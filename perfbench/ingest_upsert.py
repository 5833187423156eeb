"""Workload ``ingest_upsert``: agrobr's own ingest path.

One op reads a seeded pt-BR CSV fetch for one produto with
``sources.csv_ptbr.read_csv_ptbr``, validates it against the
``cepea.indicador`` contract and the sanity rules, upserts it with
``IndicadoresStore.upsert`` into a ~297k-row store built in setup, and
reads the produto's last 365 days back with ``IndicadoresStore.query``.
After the ops, one timed pass over the ingest side's catalog queries
(``catalog.PASS``).
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

#: nominal seconds per op; the timed op count is fixed from --seconds
#: (18 s: 6 ops, one fetch per produto, so every seed runs the same
#: shapes)
NOMINAL_OP_S = 3.0
MIN_OPS = 6
#: untimed warm-up ops, on the smallest produto (the cheapest op of the
#: same shape). A fixed count, so every run does the same set-up work.
WARM_OPS = 8

CSV_SCHEMA = "data string, praca string, valor string, unidade string, metodologia string"
CONTRACT = "cepea.indicador"


def n_ops(seconds: float) -> int:
    return max(MIN_OPS, round(seconds / NOMINAL_OP_S))


def _op(spark, tr, store, fetch: gen.Fetch, path: str) -> dict:
    from agrobr_spark.contracts import get_contract
    from agrobr_spark.sources import csv_ptbr
    from agrobr_spark.validators.sanity import sanity_check

    t0 = time.perf_counter()
    with tr.span("sources.read_csv_ptbr"):
        raw = csv_ptbr.read_csv_ptbr(
            spark, path, schema=CSV_SCHEMA,
            decimal_cols=["valor"], date_cols={"data": "dd/MM/yyyy"},
        )
    batch = raw.select(
        F.lit(fetch.series.produto).alias("produto"),
        "praca",
        "data",
        F.lit(gen.FONTE).alias("fonte"),
        "valor",
        F.lit(None).cast("double").alias("variacao"),
        "unidade",
        F.to_timestamp(F.lit(fetch.collected_at.strftime("%Y-%m-%d %H:%M:%S"))).alias("collected_at"),
        "metodologia",
        F.lit(None).cast("string").alias("anomalies"),
    )
    problems = []
    with tr.span("contracts.validate"):
        contract = get_contract(CONTRACT)
        missing = contract.missing_columns(batch)
        verdict = contract.validation_query(batch).collect()[0].asDict()
    want = {k: 0 for k in verdict}
    want["linhas"] = fetch.n_rows
    if missing or verdict != want:
        problems.append(f"contract {verdict} missing={missing}")
    with tr.span("validators.sanity_check"):
        flags = (
            sanity_check(batch)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("fora_banda").cast("int")).alias("fora"),
                F.sum(F.col("variacao_excessiva").cast("int")).alias("excessiva"),
            )
            .collect()[0]
        )
    if (flags["n"], flags["fora"], flags["excessiva"]) != (fetch.n_rows, 0, fetch.expected_flags):
        problems.append(f"sanity {flags.asDict()} expected {fetch.expected_flags} flags")
    t_up = time.perf_counter()
    n = store.upsert(batch)
    if n != fetch.n_rows:
        problems.append(f"upsert staged {n} rows, fetch has {fetch.n_rows}")
    t_read = time.perf_counter()
    with tr.span("store.query"):
        got = store.query(fetch.series.produto, *fetch.read_range).toArrow()
    t_end = time.perf_counter()
    tr.add("sources.read_csv_ptbr.rows_out", verdict["linhas"])
    tr.add("store.query.rows_out", got.num_rows)
    return {
        "op_s": t_end - t0,
        "upsert_s": t_read - t_up,
        "read_s": t_end - t_read,
        "rows": n,
        "read": got,
        "problems": problems,
    }


def run(ctx) -> dict:
    from agrobr_spark.session import thread_target
    from agrobr_spark.store.indicadores import SCHEMA, IndicadoresStore

    spark, tr = ctx.spark, ctx.tracer
    timed_n = n_ops(ctx.seconds)
    plan = gen.ingest_plan(ctx.seed, WARM_OPS, timed_n)
    paths = gen.write_ingest_inputs(plan, os.path.join(ctx.work, "inputs"))
    tables = gen.catalog_tables(ctx.seed, "ingest_upsert")
    sf_dir = gen.write_catalog(tables, os.path.join(ctx.work, "catalog"))
    queries = catalog.order(ctx.seed, "ingest_upsert")
    ctx.mark("inputs")

    store_dir = os.path.join(ctx.work, "store")
    warm_dir = os.path.join(ctx.work, "warm_store")
    base = spark.read.parquet(paths["base"]).select(
        *[F.col(f.name).cast(f.dataType) for f in SCHEMA.fields]
    )

    def warm_up() -> tuple[list[float], dict]:
        """One warm-up query pass, then warm-up ops on a second store
        that holds the warm-up produto's base rows. The ops come last, so
        the timed ops follow ops of their own kind."""
        warm_pass = catalog.run_pass(spark, tr, sf_dir, queries)
        warm_store = IndicadoresStore(spark, warm_dir)
        warm_store.upsert(base.filter(F.col("produto") == plan.warm[0].series.produto))
        op_s = [
            _op(spark, tr, warm_store, fetch, path)["op_s"]
            for fetch, path in zip(plan.warm, paths["warm"])
        ]
        return op_s, warm_pass

    # the warm-up overlaps the build of the store the timed phase uses
    # and the query pass's DuckDB oracle
    with ThreadPoolExecutor(max_workers=3) as pool:
        build = pool.submit(thread_target(spark, IndicadoresStore(spark, store_dir).upsert), base)
        warm = pool.submit(thread_target(spark, warm_up))
        expected = pool.submit(catalog.oracle, sf_dir, list(tables), queries)
        build.result()
        ctx.mark("build")
        warm_s, warm_pass = warm.result()
        expected = expected.result()
    shutil.rmtree(warm_dir)

    store = IndicadoresStore(spark, store_dir)
    ops = []
    ctx.begin_timed()
    for fetch, path in zip(plan.timed, paths["timed"]):
        ops.append(_op(spark, tr, store, fetch, path))
    ctx.ops_done()
    qpass = catalog.run_pass(spark, tr, sf_dir, queries)
    ctx.end_timed()

    failed = reference.check_ingest(store_dir, plan, ops)
    wrong, last_digit = catalog.check(qpass, warm_pass, expected)
    ctx.mark("checked")
    return {
        "ops": len(ops),
        "attempted": len(ops) + len(queries),
        "failed": failed + len(wrong),
        "end_to_end": {
            "op_p50_s": median([o["op_s"] for o in ops]),
            "rows_per_s": sum(o["rows"] for o in ops) / sum(o["upsert_s"] for o in ops),
            "read_p50_s": median([o["read_s"] for o in ops]),
            "query_pass_s": qpass["pass_s"],
        },
        "layer": {
            "ops.max_s": max(o["op_s"] for o in ops),
            **reference.store_footprint(store_dir),
        },
        "record": {
            "store_rows_base": plan.base.num_rows,
            "rows_per_fetch": gen.REVISED + gen.NEW,
            "warmup_op_s": warm_s,
            "warmup_pass_s": warm_pass["pass_s"],
            "query_s": qpass["query_s"],
            "query_last_digit_diffs": last_digit,
            "queries": queries,
            "op_s": [o["op_s"] for o in ops],
            "upsert_s": [o["upsert_s"] for o in ops],
            "read_s": [o["read_s"] for o in ops],
            "op_produto": [f.series.produto for f in plan.timed],
            "problems": [p for o in ops for p in o["problems"]]
            + [p for ps in wrong.values() for p in ps],
        },
    }
