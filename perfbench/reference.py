"""Output checks, computed independently of Spark with DuckDB.

``ingest_upsert``: the committed store must equal a last-writer-wins
over the base rows and every timed fetch, with a unique primary key,
and every read must equal that reference as of its op. ``graph_fold``:
edges, labels and ranks of the folded graph must equal a from-scratch
build over corpus and batches with the same frozen centroids.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

PK = "produto, praca, data, fonte"
STORE_COLS = "produto, praca, data, fonte, valor, variacao, unidade, epoch_us(collected_at) AS collected_us"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")  # runs after the timed region
    return con


def read_table_dir(path: str) -> str:
    """DuckDB scan of a hive-partitioned parquet table directory."""
    return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"


def _lww(con, plan, upto: int, where: str = "TRUE") -> str:
    """Register base ∪ the first ``upto`` timed fetches and return the
    last-writer-wins relation's SQL. ``where`` may only filter on key
    columns, so it can be applied before the window."""
    con.register("base_rows", plan.base)
    fetched = [f.rows().append_column("seq", pa.array([f.seq] * f.n_rows, pa.int64()))
               for f in plan.timed[:upto]]
    if fetched:
        con.register("fetch_rows", pa.concat_tables(fetched))
        union = "SELECT *, 0::BIGINT AS seq FROM base_rows UNION ALL SELECT * FROM fetch_rows"
    else:
        union = "SELECT *, 0::BIGINT AS seq FROM base_rows"
    return f"""
        SELECT * EXCLUDE (seq, rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY {PK} ORDER BY seq DESC) AS rn
          FROM ({union}) WHERE {where}) WHERE rn = 1"""


def same_rows(con, got: str, want: str) -> bool:
    """Multiset equality of two relations (order-free)."""
    n = con.execute(
        f"SELECT (SELECT count(*) FROM (({got}) EXCEPT ALL ({want})))"
        f" + (SELECT count(*) FROM (({want}) EXCEPT ALL ({got})))"
    ).fetchone()[0]
    return n == 0


def store_matches(con, store_sql: str, plan, upto: int) -> bool:
    ref = _lww(con, plan, upto)
    dup = con.execute(
        f"SELECT count(*) FROM (SELECT {PK} FROM {store_sql} GROUP BY ALL HAVING count(*) > 1)"
    ).fetchone()[0]
    return dup == 0 and same_rows(
        con, f"SELECT {STORE_COLS} FROM {store_sql}", f"SELECT {STORE_COLS} FROM ({ref})"
    )


def read_matches(con, got: pa.Table, fetch, plan) -> bool:
    lo, hi = fetch.read_range
    ref = _lww(
        con, plan, fetch.seq,
        f"produto = '{fetch.series.produto}' AND data BETWEEN DATE '{lo}' AND DATE '{hi}'",
    )
    con.register("got_read", got)
    return same_rows(con, f"SELECT {STORE_COLS} FROM got_read", f"SELECT {STORE_COLS} FROM ({ref})")


def check_ingest(store_dir: str, plan, ops: list[dict]) -> int:
    """Number of failed ops: an op fails on an inline check or a read
    that differs from the reference; a final store that differs fails
    the last op."""
    con = _con()
    bad = [bool(o["problems"]) for o in ops]
    for i, (o, f) in enumerate(zip(ops, plan.timed)):
        if not read_matches(con, o["read"], f, plan):
            o["problems"].append(f"read {i} differs from the reference")
            bad[i] = True
    if not store_matches(con, read_table_dir(store_dir), plan, len(ops)):
        ops[-1]["problems"].append("final store differs from the reference")
        bad[-1] = True
    return sum(bad)


def store_footprint(store_dir: str) -> dict[str, float]:
    """Data files and bytes per row of a parquet table (or of every table
    under a store directory)."""
    files = [
        p for p in glob.glob(os.path.join(store_dir, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]
    size = sum(os.path.getsize(p) for p in files)
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    return {"store.files": len(files), "store.bytes_per_row": size / rows if rows else 0.0}


# ----------------------------------------------------------------- graph

GRAPH_TABLES = {
    "edges": "vec_id, neighbor_id, posicao, cosseno",
    "labels": "vec_id, componente",
    "pranks": "vec_id, componente, pontuacao",
}


def graph_mismatches(folded: str, rebuilt: str) -> list[str]:
    """Tables of the folded graph store that differ from the rebuild
    (the frozen centroids first: both sides must have used the same)."""
    con = _con()
    out = [
        t for t, cols in GRAPH_TABLES.items()
        if not same_rows(
            con,
            f"SELECT {cols} FROM {read_table_dir(os.path.join(folded, t))}",
            f"SELECT {cols} FROM {read_table_dir(os.path.join(rebuilt, t))}",
        )
    ]
    cent = "SELECT * FROM read_parquet('{}/centroids/*.parquet')"
    if not same_rows(con, cent.format(folded), cent.format(rebuilt)):
        out.insert(0, "centroids")
    return out


def read_matches_rebuild(got: pa.Table, rebuilt: str, ids: list[int]) -> bool:
    con = _con()
    con.register("got_read", got)
    cols = GRAPH_TABLES["edges"]
    id_list = ",".join(str(i) for i in ids)
    return same_rows(
        con,
        f"SELECT {cols} FROM got_read",
        f"SELECT {cols} FROM {read_table_dir(os.path.join(rebuilt, 'edges'))}"
        f" WHERE vec_id IN ({id_list})",
    )
