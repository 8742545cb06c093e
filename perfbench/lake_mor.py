"""lake_mor: a single-writer merge-on-read lifecycle on a ``SnapshotTable``
built from ``orders``.

Set-up builds the table's first snapshot three times, in three fresh
tables. One unit of work is one round on such a table: ``append``,
``merge_upsert``, ``delete_where`` (equality), ``delete_where_positional``,
then reads through the noop sink — ``read_with_deletes`` at the head,
``read`` at the first snapshot and ``read_incremental`` over the round.
The first table gets the round untimed, as a warm-up; the other two get
it timed, so a run times the same work twice. Then the last table's
Iceberg metadata is registered in a catalog and read back through
``iceberg_table_from_catalog``. Every table's final read and the read
via the catalog must match DuckDB replaying the round as plain SQL.

Row selections come from the seed (see ``KeyPlan``).
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.common import Run, log
from perfbench.trace import median

SF = 0.1
#: fresh tables built in set-up: the first gets the warm-up round, the
#: others one timed round each (a second round on one table would see a
#: larger table, so it would not repeat the first)
FIXTURE_REPEATS = 3
WRITE_OPS = ("append", "merge_upsert", "delete_where", "delete_where_positional")
READ_OPS = ("read_with_deletes", "read", "read_incremental")


class KeyPlan:
    """The seeded row selections of the round, as SQL both engines run.

    Integer hashes of ``o_orderkey``: ``bucket = (k*A+B) % 64`` puts a row in
    the initial table (< 32) or in the round's append (= 32); ``sel =
    (k*C+D) % 100`` picks the updated (0) and the equality-deleted (50) keys
    among present rows; upsert inserts come from bucket 63, which nothing
    appends; the positional delete takes one seeded ``o_custkey`` residue."""

    PRICE_BUMP = "o_totalprice + 1.0"

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 7])
        a, c = (int(v) * 2 + 1 for v in rng.integers(1_000, 500_000, 2))
        b, d = (int(v) for v in rng.integers(0, 1_000_000, 2))
        bucket = f"((o_orderkey * {a} + {b}) % 64)"
        sel = f"((o_orderkey * {c} + {d}) % 100)"
        self.initial = f"{bucket} < 32"
        self.appended = f"{bucket} = 32"
        self.upserted = f"(({bucket} <= 32 AND {sel} = 0) OR {bucket} = 63)"
        self.deleted_keys = f"({bucket} <= 32 AND {sel} = 50)"
        self.positional = f"o_custkey % 97 = {int(rng.integers(0, 97))}"


def duckdb_expected(orders_path: str, plan: KeyPlan):
    """The table after the round, replayed as DuckDB SQL."""
    import duckdb

    with duckdb.connect() as con:
        con.sql(f"CREATE TABLE o AS SELECT * FROM '{orders_path}'")
        con.sql(f"CREATE TABLE t AS SELECT * FROM o WHERE {plan.initial}")
        cols = [r[0] for r in con.sql("DESCRIBE o").fetchall()]
        bumped = ", ".join(f"{plan.PRICE_BUMP} AS o_totalprice" if c == "o_totalprice" else c for c in cols)
        con.sql(f"INSERT INTO t SELECT * FROM o WHERE {plan.appended}")
        con.sql(f"DELETE FROM t WHERE {plan.upserted}")
        con.sql(f"INSERT INTO t SELECT {bumped} FROM o WHERE {plan.upserted}")
        con.sql(f"DELETE FROM t WHERE {plan.deleted_keys}")
        con.sql(f"DELETE FROM t WHERE {plan.positional}")
        return con.sql("SELECT * FROM t").df()


def storage_counts(table_path: str, snapshot_id: int) -> dict[str, float]:
    from iceberg_catalog_migrator_spark.sources.snapshots import load_manifest

    snap = load_manifest(table_path, snapshot_id)
    data = snap["files"]
    deletes = snap.get("deletes", []) + snap.get("pos_deletes", [])
    meta_dir = os.path.join(table_path, "metadata")
    meta = os.listdir(meta_dir)
    return {
        "data_files": len(data),
        "delete_files": len(deletes),
        "manifest_files": sum(1 for f in meta if f.startswith("snap-")),
        "data_bytes": sum(os.path.getsize(os.path.join(table_path, f)) for f in data + deletes),
        "metadata_bytes": sum(os.path.getsize(os.path.join(meta_dir, f)) for f in meta),
    }


def run_workload(run: Run) -> None:
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.sources import load_table
    from iceberg_catalog_migrator_spark.sources import snapshots as S
    from iceberg_catalog_migrator_spark.sources.iceberg_format import register_iceberg_metadata
    from iceberg_catalog_migrator_spark.sources.iceberg_read import iceberg_table_from_catalog
    from check_correctness import compare

    from perfbench import datagen
    from perfbench.spark import SparkRun

    plan = KeyPlan(run.seed)
    sr = SparkRun(run)
    sr.start()
    spark = sr.spark
    tracer = run.tracer
    try:
        t0 = time.perf_counter()
        data_dir = run.path("data")
        datagen.write_star_schema(data_dir, SF, seed=0, tables=("orders",))
        orders = load_table(spark, data_dir, "orders")
        orders.count()
        run.layers["setup.ingest_s"] = time.perf_counter() - t0
        fixtures, tables = [], []
        for i in range(FIXTURE_REPEATS):
            t0 = time.perf_counter()
            table = S.SnapshotTable(spark, run.path(f"lake{i}", "orders"))
            first = table.append(orders.filter(plan.initial))
            fixtures.append(time.perf_counter() - t0)
            tables.append((table, first))
        run.layers["setup.fixture_s"] = median(fixtures)
        run.e2e["setup_s"] = sum(run.layers[k] for k in ("setup.session_s", "setup.ingest_s", "setup.fixture_s"))
        run.details["fixture_repeats_s"] = fixtures
        sr.calibrate()

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def read_op(name: str, build, *args):
            def go():
                with tracer.span(f"sources.snapshots.{name}.build"):
                    df = build(*args)
                noop(df)

            return sr.op(f"sources.snapshots.{name}", go)[1]

        def one_round(table, first) -> tuple[list[float], list[float]]:
            """The round on ``table``: (write, read) seconds per operation."""
            prev = table.current_snapshot_id()
            w = [
                sr.op("sources.snapshots.append", table.append, orders.filter(plan.appended))[1],
                sr.op(
                    "sources.snapshots.merge_upsert",
                    S.merge_upsert,
                    table,
                    orders.filter(plan.upserted).withColumn("o_totalprice", F.expr(plan.PRICE_BUMP)),
                    ["o_orderkey"],
                )[1],
                sr.op(
                    "sources.snapshots.delete_where",
                    S.delete_where,
                    table,
                    ["o_orderkey"],
                    orders.filter(plan.deleted_keys).select("o_orderkey"),
                )[1],
                sr.op(
                    "sources.snapshots.delete_where_positional",
                    S.delete_where_positional,
                    table,
                    plan.positional,
                )[1],
            ]
            head = table.current_snapshot_id()
            rd = [
                read_op("read_with_deletes", S.read_with_deletes, table),
                read_op("read", table.read, first),
                read_op("read_incremental", table.read_incremental, prev, head),
            ]
            return w, rd

        # warm-up: the same round on the first table, so the timed rounds
        # measure the operations, not the JVM compiling their code paths
        tracer.enabled = False
        t0 = time.perf_counter()
        one_round(*tables[0])
        run.layers["setup.warmup_s"] = time.perf_counter() - t0
        run.e2e["setup_s"] += run.layers["setup.warmup_s"]
        tracer.enabled = run.traced

        walls, commits, reads, windows = [], [], [], []
        for table, first in tables[1:]:
            t0 = time.perf_counter()
            with tracer.span("lake_mor.unit"):
                w, rd = one_round(table, first)
            t1 = time.perf_counter()
            walls.append(t1 - t0)
            commits.append(sum(w))
            reads.append(sum(rd))
            windows.append((t0, t1))
            run.attempted += len(w) + len(rd)
        counts = storage_counts(table.path, table.current_snapshot_id())

        # final step: Iceberg export into a catalog, then read it back
        catalog = SqlCatalog("lake", run.path("lake.db"))
        catalog.create_namespace(("lake",))
        tid = TableIdentifier.of("lake", "orders")
        _, export_s = sr.op("sources.iceberg_format.export", register_iceberg_metadata, table, catalog, tid)
        ice, open_s = sr.op("sources.iceberg_read.open", iceberg_table_from_catalog, spark, catalog, tid)
        run.attempted += 2
        tracer.enabled = False
        got = [S.read_with_deletes(t).toPandas() for t, _ in tables]
        via_catalog = ice.read().toPandas()
        catalog.close()
    finally:
        sr.stop()
    want = duckdb_expected(os.path.join(data_dir, "orders.parquet"), plan)
    for name, df in [("Iceberg read via catalog", via_catalog)] + [("read_with_deletes", g) for g in got]:
        problems = compare(name, df, want)
        run.check(not problems, f"{name} vs DuckDB replay: " + "; ".join(problems[:2]))

    run.e2e["wall_s"] = min(walls)
    run.details.update(unit_walls_s=walls, rows=len(want))
    layers = run.layers
    layers["lake_mor.commit_s"] = min(commits)
    layers["lake_mor.read_s"] = min(reads)
    layers["sources.iceberg_format.export_s"] = export_s
    layers["sources.iceberg_read.open_s"] = open_s
    orders_bytes = os.path.getsize(os.path.join(data_dir, "orders.parquet"))
    for k, v in counts.items():
        layers[f"sources.snapshots.{k}"] = v
    layers["sources.snapshots.bytes_written_per_input_byte"] = (
        counts["data_bytes"] + counts["metadata_bytes"]
    ) / orders_bytes
    if run.traced:
        spans = tracer.by_name()
        n = len(walls)
        for op in WRITE_OPS:
            mine = spans.get(f"sources.snapshots.{op}", [])
            layers[f"sources.snapshots.{op}.s"] = sum(s.duration for s in mine) / n
            layers[f"sources.snapshots.{op}.calls"] = len(mine) / n
        for op in READ_OPS:
            mine = spans.get(f"sources.snapshots.{op}.build", [])
            layers[f"sources.snapshots.{op}.build_s"] = sum(s.duration for s in mine) / n
        layers.update(sr.ledger(windows))
        run.trace_summary(windows)
    log(f"lake_mor: rounds of {', '.join(f'{w:.2f}s' for w in walls)}, {len(want)} rows")
