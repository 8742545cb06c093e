"""queries: registered queries through the noop sink — TPC-H queries for
the overhead-bound floor, and one LLM-pipeline operator per family.

Set-up runs every TPC-H query once, untimed, and compares it with its
registered DuckDB oracle; that pass also warms the JVM. The timed phase
is one pass over all the queries in a seeded order. Operator modules
keep per-session caches keyed by dataset, so set-up warms the operators
up only on a small corpus in another directory, they run cold on the
timed pass's data, and they are
checked only after it (against their oracle, or for a non-empty result
when they have none), so the check never warms them.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.common import Run, log
from perfbench.trace import median

SF = 0.1
TPCH = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_revenue_forecast",
    "q18_large_volume_customer",
)
OPERATORS = (
    "dedup_simhash_groups",
    "similarity_hyperplane_lsh_topk",
    "text_token_counts",
    "chunk_documents_sliding",
    "multimodal_phash_groups",
)
WARMUP_SF = 0.01
#: the tables those queries read
TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")


def query_order(seed: int) -> list[str]:
    names = list(TPCH + OPERATORS)
    random.Random(seed).shuffle(names)
    return names


def _oracle_check(run: Run, con, qd, spark, data_dir: str) -> None:
    from check_correctness import compare

    got = qd.fn(spark, data_dir).toPandas()
    if qd.oracle is None:
        run.check(len(got) > 0, f"{qd.name}: empty result")
        return
    problems = compare(qd.name, got, con.sql(qd.oracle).df())
    run.check(not problems, f"{qd.name}: " + "; ".join(problems[:2]))


def run_workload(run: Run) -> None:
    import duckdb

    from iceberg_catalog_migrator_spark.queries import all_queries
    from iceberg_catalog_migrator_spark.sources import load_table
    from perfbench import datagen
    from perfbench.spark import SparkRun

    registry = all_queries()
    sr = SparkRun(run)
    sr.start(python_workers=True)
    spark = sr.spark
    tracer = run.tracer
    try:
        t0 = time.perf_counter()
        data_dir = run.path("data")
        datagen.write_star_schema(data_dir, SF, seed=0, tables=TABLES)
        for t in TABLES:
            load_table(spark, data_dir, t)
        run.layers["setup.ingest_s"] = time.perf_counter() - t0
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        t0 = time.perf_counter()
        for name in TPCH:
            _oracle_check(run, con, registry[name], spark, data_dir)
            run.attempted += 1
        run.layers["setup.fixture_s"] = time.perf_counter() - t0
        # warm-up: the operators once on a small corpus in another directory,
        # so the timed pass does not pay for compiling their code paths but
        # still misses every per-dataset cache
        t0 = time.perf_counter()
        warm_dir = run.path("warm")
        datagen.write_star_schema(warm_dir, WARMUP_SF, seed=1, tables=("documents", "embeddings"))
        for name in OPERATORS:
            registry[name].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        run.layers["setup.warmup_s"] = time.perf_counter() - t0
        run.e2e["setup_s"] = sum(
            run.layers[k]
            for k in ("setup.session_s", "setup.python_workers_s", "setup.ingest_s", "setup.fixture_s", "setup.warmup_s")
        )
        sr.calibrate()

        order = query_order(run.seed)
        times: dict[str, float] = {}
        builds = {"queries": 0.0, "operators": 0.0}

        def execute(name: str) -> None:
            qd = registry[name]
            layer = "operators" if ".operators." in qd.fn.__module__ else "queries"
            t0 = time.perf_counter()
            with tracer.span(f"{layer}.build"):
                df = qd.fn(spark, data_dir)
            builds[layer] += time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()

        t_start = time.perf_counter()
        with tracer.span("queries.unit"):
            for name in order:
                times[name] = sr.op(f"query.{name}", execute, name)[1]
                run.attempted += 1
        wall = time.perf_counter() - t_start
        window = (t_start, t_start + wall)

        tracer.enabled = False
        for name in OPERATORS:
            _oracle_check(run, con, registry[name], spark, data_dir)
        con.close()
    finally:
        sr.stop()

    run.e2e["wall_s"] = wall
    run.details.update(query_s=times, order=order)
    layers = run.layers
    layers["queries.tpch_s"] = sum(times[n] for n in TPCH)
    layers["queries.operators_s"] = sum(times[n] for n in OPERATORS)
    layers["queries.tpch_median_s"] = median([times[n] for n in TPCH])
    layers["queries.build_s"] = builds["queries"]
    layers["operators.build_s"] = builds["operators"]
    if run.traced:
        layers.update(sr.ledger([window]))
        run.trace_summary([window])
    log(f"queries: pass of {len(order)} in {wall:.2f}s")
