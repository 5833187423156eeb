"""Workload ``graph_fold``: incremental maintenance of the persisted kNN
graph (``operators/knn_store.py``).

One op is one epoch on a graph built in setup: ``update_knn_graph_frame``
→ ``update_graph_labels_frame`` → ``update_graph_pageranks_frame`` on a
seeded batch of new vectors, then a read of the batch's new edges with
``read_knn_graph``. The epoch is bound by per-job overhead (~140 Spark
jobs), not by bytes. After the epochs, one timed pass over the graph
side's catalog queries (``catalog.PASS``).
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F

import catalog
import gen
import reference

NOMINAL_OP_S = 12.0
MIN_OPS = 2
#: the first epoch in a JVM runs ~50 % slower than later ones; one
#: warm-up epoch (on a copy of the built graph) takes most of that
WARM_EPOCHS = 1


def n_ops(seconds: float) -> int:
    return max(MIN_OPS, round(seconds / NOMINAL_OP_S))


def _build(spark, vectors, store_dir: str) -> None:
    from agrobr_spark.operators import knn_store

    knn_store.build_knn_graph_index(
        vectors, store_dir, k=gen.GRAPH_K, n_probe=gen.GRAPH_PROBE,
        n_centroids=gen.N_CENTROIDS,
    )
    labels = knn_store.build_graph_labels(spark, store_dir, vectors.select("vec_id"))
    knn_store.build_graph_pageranks(spark, store_dir, labels=labels)


def _epoch(spark, tr, store_dir: str, batch_path: str, ids: list[int], n_nodes: int) -> dict:
    from agrobr_spark.operators import knn_store

    with tr.span("bench.input"):  # parquet schema inference runs a job
        batch = spark.read.parquet(batch_path)
    t0 = time.perf_counter()
    with tr.span("operators.knn_store.edges"):
        staged = knn_store.update_knn_graph_frame(
            spark, batch, store_dir, k=gen.GRAPH_K, n_probe=gen.GRAPH_PROBE
        )
    with tr.span("operators.knn_store.labels"):
        relabeled = knn_store.update_graph_labels_frame(
            spark, staged.select("vec_id").unionByName(batch.select("vec_id")), store_dir
        )
    with tr.span("operators.knn_store.ranks"):
        knn_store.update_graph_pageranks_frame(spark, relabeled, store_dir)
    t_read = time.perf_counter()
    with tr.span("operators.knn_store.read"):
        got = (
            knn_store.read_knn_graph(spark, store_dir)
            .filter(F.col("vec_id").isin(ids))
            .toArrow()
        )
    t_end = time.perf_counter()
    # relabeled is checkpointed: counting it re-reads cached blocks only
    with tr.span("bench.touched"):
        touched = relabeled.count()
    tr.add("operators.knn_store.edges.rows_in", gen.BATCH)
    tr.add("operators.knn_store.labels.rows_out", touched)
    tr.add("operators.knn_store.read.rows_out", got.num_rows)
    return {
        "op_s": t_end - t0,
        "fold_s": t_read - t0,
        "read_s": t_end - t_read,
        "touched_frac": touched / n_nodes,
        "ids": ids,
        "read": got,
        "problems": [],
    }


def _read_ok(got, ids: list[int]) -> bool:
    """Every batch vector got 1..k edges, ranked 1..n without gaps."""
    per: dict[int, list[int]] = {}
    for v, p in zip(got.column("vec_id").to_pylist(), got.column("posicao").to_pylist()):
        per.setdefault(v, []).append(p)
    return set(per) == set(ids) and all(
        sorted(ps) == list(range(1, len(ps) + 1)) and len(ps) <= gen.GRAPH_K
        for ps in per.values()
    )


def run(ctx) -> dict:
    from agrobr_spark.session import thread_target

    spark, tr = ctx.spark, ctx.tracer
    timed_n = n_ops(ctx.seconds)
    plan = gen.graph_plan(ctx.seed, WARM_EPOCHS, timed_n)
    paths = gen.write_graph_inputs(plan, os.path.join(ctx.work, "inputs"))
    tables = gen.catalog_tables(ctx.seed, "graph_fold")
    sf_dir = gen.write_catalog(tables, os.path.join(ctx.work, "catalog"))
    queries = catalog.order(ctx.seed, "graph_fold")
    ctx.mark("inputs")

    store_dir = os.path.join(ctx.work, "graph")
    rebuilt = os.path.join(ctx.work, "rebuilt")
    warm_dir = os.path.join(ctx.work, "warm_graph")

    def build_and_warm_up() -> list[float]:
        """Build the graph, then fold warm-up epochs into a copy, so the
        timed phase starts from the built graph."""
        _build(spark, spark.read.parquet(paths["corpus"]), store_dir)
        ctx.mark("build")
        shutil.copytree(store_dir, warm_dir)
        n_nodes, out = gen.N_CORPUS, []
        for t, p in zip(plan.warm, paths["warm"]):
            n_nodes += t.num_rows
            out.append(_epoch(spark, tr, warm_dir, p, t["vec_id"].to_pylist(), n_nodes)["op_s"])
        return out

    def rebuild_and_warm_pass() -> dict:
        """The check's reference, then one warm-up query pass. The
        reference is the catalog's stream ≡ rebuild identity: a
        from-scratch build over corpus ∪ timed batches. It depends on
        the inputs only (the default centroid pin takes the lowest corpus
        ids on both sides, and the check compares the centroids too)."""
        _build(spark, spark.read.parquet(paths["corpus"], *paths["timed"]), rebuilt)
        return catalog.run_pass(spark, tr, sf_dir, queries)

    # builds and epochs are job-bound and leave cores idle, so the two
    # chains and the query pass's DuckDB oracle run side by side
    with ThreadPoolExecutor(max_workers=3) as pool:
        expected = pool.submit(catalog.oracle, sf_dir, list(tables), queries)
        side = pool.submit(thread_target(spark, rebuild_and_warm_pass))
        warm_s = pool.submit(thread_target(spark, build_and_warm_up)).result()
        warm_pass = side.result()
        expected = expected.result()
    shutil.rmtree(warm_dir)

    ops = []
    n_nodes = gen.N_CORPUS
    ctx.begin_timed()
    for t, p in zip(plan.timed, paths["timed"]):
        n_nodes += t.num_rows
        ops.append(_epoch(spark, tr, store_dir, p, t["vec_id"].to_pylist(), n_nodes))
    ctx.ops_done()
    qpass = catalog.run_pass(spark, tr, sf_dir, queries)
    ctx.end_timed()
    wrong, last_digit = catalog.check(qpass, warm_pass, expected)

    for o in ops:
        if not _read_ok(o["read"], o["ids"]):
            o["problems"].append("read malformed")
    if not reference.read_matches_rebuild(ops[-1]["read"], rebuilt, ops[-1]["ids"]):
        ops[-1]["problems"].append("last read differs from the rebuild")
    ops[-1]["problems"] += [
        f"{t} differs from the rebuild" for t in reference.graph_mismatches(store_dir, rebuilt)
    ]
    ctx.mark("checked")
    return {
        "ops": len(ops),
        "attempted": len(ops) + len(queries),
        "failed": sum(bool(o["problems"]) for o in ops) + len(wrong),
        "end_to_end": {
            "op_p50_s": median([o["op_s"] for o in ops]),
            "rows_per_s": gen.BATCH * len(ops) / sum(o["fold_s"] for o in ops),
            "read_p50_s": median([o["read_s"] for o in ops]),
            "query_pass_s": qpass["pass_s"],
        },
        "layer": {
            "ops.max_s": max(o["op_s"] for o in ops),
            "operators.knn_store.labels.touched_frac": median([o["touched_frac"] for o in ops]),
            **reference.store_footprint(store_dir),
        },
        "record": {
            "corpus": gen.N_CORPUS,
            "batch": gen.BATCH,
            "centroids": gen.N_CENTROIDS,
            "warmup_op_s": warm_s,
            "warmup_pass_s": warm_pass["pass_s"],
            "query_s": qpass["query_s"],
            "query_last_digit_diffs": last_digit,
            "queries": queries,
            "op_s": [o["op_s"] for o in ops],
            "fold_s": [o["fold_s"] for o in ops],
            "read_s": [o["read_s"] for o in ops],
            "touched_frac": [o["touched_frac"] for o in ops],
            "problems": [p for o in ops for p in o["problems"]]
            + [p for ps in wrong.values() for p in ps],
        },
    }
