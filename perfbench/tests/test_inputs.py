"""Load-generator determinism and output-check tests (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import catalog  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402


def _files(d: str) -> list[str]:
    return sorted(os.listdir(d))


def _same_tree(a: str, b: str) -> bool:
    if _files(a) != _files(b):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    return not mismatch and not errors


@pytest.fixture(scope="module")
def plans():
    return {s: gen.ingest_plan(s, n_warm=4, n_timed=6) for s in (7, 8)}


def test_same_seed_same_ingest_bytes(tmp_path, plans):
    again = gen.ingest_plan(7, n_warm=4, n_timed=6)
    gen.write_ingest_inputs(plans[7], str(tmp_path / "a"))
    gen.write_ingest_inputs(again, str(tmp_path / "b"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert [f.series for f in again.timed] == [f.series for f in plans[7].timed]


def test_same_seed_same_vectors_and_batch_order(tmp_path):
    a = gen.write_graph_inputs(gen.graph_plan(3, 1, 2), str(tmp_path / "a"))
    b = gen.write_graph_inputs(gen.graph_plan(3, 1, 2), str(tmp_path / "b"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    ids = [pq.read_table(p)["vec_id"].to_pylist() for p in a["timed"]]
    assert ids == [list(range(2000, 2020)), list(range(2020, 2040))]


@pytest.mark.parametrize("workload", sorted(catalog.PASS))
def test_same_seed_same_catalog_tables(tmp_path, workload):
    a = gen.write_catalog(gen.catalog_tables(5, workload), str(tmp_path / "a"))
    b = gen.write_catalog(gen.catalog_tables(5, workload), str(tmp_path / "b"))
    assert _same_tree(a, b)
    assert _files(a) == sorted(f"{t}.parquet" for t in gen.CATALOG_TABLES[workload])
    assert catalog.order(5, workload) == catalog.order(5, workload)
    assert sorted(catalog.order(5, workload)) == sorted(catalog.PASS[workload])


@pytest.mark.parametrize("workload", sorted(catalog.PASS))
def test_different_seed_different_catalog_tables(workload):
    a, b = gen.catalog_tables(5, workload), gen.catalog_tables(6, workload)
    assert all(not a[t].equals(b[t]) for t in a)


def test_different_seed_different_inputs(plans):
    a, b = plans[7], plans[8]
    assert not a.base.equals(b.base)
    assert [f.csv_bytes() for f in a.timed] != [f.csv_bytes() for f in b.timed]
    assert [f.series.produto for f in a.timed] != [f.series.produto for f in b.timed]
    assert not gen.graph_plan(1, 1, 2).corpus.equals(gen.graph_plan(2, 1, 2).corpus)


def test_op_shapes_do_not_depend_on_seed(plans):
    for p in plans.values():
        assert sorted(f.series.produto for f in p.timed) == sorted(x[0] for x in gen.PRODUTOS)
        assert {f.n_rows for f in p.timed} == {gen.REVISED + gen.NEW}
    assert plans[7].base.num_rows == plans[8].base.num_rows


def test_csv_is_ptbr(plans):
    f = next(f for f in plans[7].timed if f.series.praca and not f.series.praca.isascii())
    text = f.csv_bytes().decode("iso-8859-1").splitlines()
    assert text[0] == "data;praca;valor;unidade;metodologia"
    data, praca, valor = text[1].split(";")[:3]
    assert praca == f.series.praca and "," in valor and data[2] == "/"
    with pytest.raises(UnicodeDecodeError):
        f.csv_bytes().decode("utf-8")


# ------------------------------------------------------- planted failures


def _write_store(con, sql: str, out: str) -> None:
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT parquet, PARTITION_BY (produto))")


@pytest.fixture(scope="module")
def committed(tmp_path_factory, plans):
    """A store directory holding exactly the reference result."""
    plan = plans[7]
    out = str(tmp_path_factory.mktemp("store") / "store")
    con = duckdb.connect()
    _write_store(con, reference._lww(con, plan, len(plan.timed)), out)
    return plan, out


def test_store_check_passes_on_reference(committed):
    plan, out = committed
    con = duckdb.connect()
    assert reference.store_matches(con, reference.read_table_dir(out), plan, len(plan.timed))


def test_mutated_store_row_fails(committed, tmp_path):
    plan, out = committed
    con = duckdb.connect()
    mutated = str(tmp_path / "mutated")
    _write_store(
        con,
        f"SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 THEN valor + 0.01"
        f" ELSE valor END AS valor) FROM {reference.read_table_dir(out)}",
        mutated,
    )
    assert not reference.store_matches(
        con, reference.read_table_dir(mutated), plan, len(plan.timed)
    )


def test_altered_read_row_fails(plans):
    plan = plans[7]
    fetch = plan.timed[2]
    con = duckdb.connect()
    lo, hi = fetch.read_range
    ref = con.execute(
        f"SELECT * FROM ({reference._lww(con, plan, fetch.seq)})"
        f" WHERE produto = '{fetch.series.produto}' AND data BETWEEN DATE '{lo}' AND DATE '{hi}'"
    ).arrow()
    assert ref.num_rows > 0
    assert reference.read_matches(con, ref, fetch, plan)
    praca = ref["praca"].to_pylist()
    praca[0] = "outra praca"
    altered = ref.set_column(ref.schema.get_field_index("praca"), "praca", pa.array(praca))
    assert not reference.read_matches(con, altered, fetch, plan)


def _graph_store(root: str, edges: pa.Table) -> str:
    labels = pa.table({"vec_id": [1, 2, 3], "componente": [1, 1, 3], "balde": [1, 0, 1]})
    ranks = pa.table({"vec_id": [1, 2, 3], "componente": [1, 1, 3],
                      "pontuacao": [0.5, 0.2, 0.15], "balde": [1, 0, 1]})
    for name, t in (("edges", edges), ("labels", labels), ("pranks", ranks)):
        pq.write_to_dataset(t, os.path.join(root, name), partition_cols=["balde"])
    os.makedirs(os.path.join(root, "centroids"))
    pq.write_table(pa.table({"_cid": [1], "_cv": [[1.0, 0.0]]}),
                   os.path.join(root, "centroids", "part-0.parquet"))
    return root


def test_dropped_edge_fails(tmp_path):
    edges = pa.table({
        "vec_id": [1, 1, 2, 3], "neighbor_id": [2, 3, 1, 1], "posicao": [1, 2, 1, 1],
        "cosseno": [0.9, 0.5, 0.9, 0.5], "balde": [1, 1, 0, 1],
    })
    rebuilt = _graph_store(str(tmp_path / "rebuilt"), edges)
    same = _graph_store(str(tmp_path / "same"), edges)
    dropped = _graph_store(
        str(tmp_path / "dropped"), edges.filter(pc.invert(pc.equal(edges["neighbor_id"], 3)))
    )
    assert reference.graph_mismatches(same, rebuilt) == []
    assert reference.graph_mismatches(dropped, rebuilt) == ["edges"]


# ------------------------------------------------------------ query pass


@pytest.fixture(scope="module")
def oracle_pass(tmp_path_factory):
    """The graph side's query pass as its DuckDB oracle computes it,
    shaped as a Spark pass result."""
    names = list(catalog.PASS["graph_fold"])
    tables = gen.catalog_tables(5, "graph_fold")
    sf_dir = gen.write_catalog(tables, str(tmp_path_factory.mktemp("catalog")))
    expected = catalog.oracle(sf_dir, list(tables), names)
    frames = {n: expected[n]["frame"].copy() for n in names}
    result = {"frames": frames, "columns": {n: [c.lower() for c in f.columns] for n, f in frames.items()}}
    return result, expected


def _with(result: dict, name: str, frame) -> dict:
    return {"frames": {**result["frames"], name: frame}, "columns": result["columns"]}


def test_query_check_passes_on_oracle(oracle_pass):
    result, expected = oracle_pass
    assert all(len(f) > 0 for f in result["frames"].values())
    assert catalog.check(result, result, expected) == ({}, {"graph_pagerank": 0})


def test_altered_query_row_fails(oracle_pass):
    result, expected = oracle_pass
    frame = result["frames"]["text_bm25_topk"].copy()
    frame.loc[0, "doc_id"] = frame["doc_id"].max() + 1
    altered = _with(result, "text_bm25_topk", frame)
    problems, _ = catalog.check(altered, altered, expected)
    assert list(problems) == ["text_bm25_topk"]
    problems, _ = catalog.check(altered, result, expected)
    assert len(problems["text_bm25_topk"]) == 2  # also differs from the warm-up pass


def test_pagerank_last_digit_only(oracle_pass):
    result, expected = oracle_pass
    for step, ok in ((1e-6, True), (1e-5, False)):
        frame = result["frames"]["graph_pagerank"].copy()
        frame.loc[0, "pontuacao"] = round(frame.loc[0, "pontuacao"] + step, 6)
        altered = _with(result, "graph_pagerank", frame)
        problems, last_digit = catalog.check(altered, altered, expected)
        assert (problems == {}) is ok
        assert last_digit == ({"graph_pagerank": 1} if ok else {})
