"""migrate_rest: move ~1,000 Iceberg pointer tables between two REST
catalogs, register on the target then drop from the source.

Both catalogs are ``RestCatalog`` clients of in-process
``IcebergRestCatalogServer`` endpoints on localhost HTTP, each serving a
``SqlCatalog`` store the benchmark owns (so time inside the store can be
told apart from time on the wire). One unit of work is one migration,
discovery included, through ``CatalogMigrator`` with the library's
defaults as the CLI calls it; the next unit migrates the tables back.
Spark is not started.

Client, servers and stores run on threads of this one process, so every
request hands the GIL from the client thread to a server thread and back.
Spread over several CPUs of a virtual machine, each hand-off waits for an
idle virtual CPU to wake up, which costs more than the request itself and
varies with the host's load (unpinned, a migration took 2.9–7.3 s across
runs). So every thread of the process is pinned to one CPU at a time. The
speed of a single virtual CPU still wanders by up to a third within
seconds, largely independently of the others, so each fixture build and
each unit runs on the next CPU in turn and the run reports medians.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from perfbench.common import Run, log
from perfbench.trace import median, percentile

N_TABLES = 1000
NAMESPACES = [("foo",), ("bar",), ("a", "b", "c")]
SETUP_REPEATS = 5
#: nominal seconds of one migration; a run does one per this many seconds
#: of ``--seconds``, rounded to whole turns over the CPUs, so the work of
#: a run is fixed
UNIT_S = 1.5
CLIENT_OPS = (
    "list_namespaces",
    "list_tables",
    "create_namespace",
    "load_table_metadata_location",
    "register_table",
    "drop_table",
)


def table_names(seed: int) -> list[tuple[tuple[str, ...], str]]:
    """Seeded ``(namespace, name)`` pairs: distinct names, shuffled over
    the namespaces."""
    rng = np.random.default_rng(seed)
    names = [f"t{v:08x}" for v in rng.choice(1 << 32, size=N_TABLES, replace=False)]
    ns_idx = rng.integers(0, len(NAMESPACES), size=N_TABLES)
    return [(NAMESPACES[i], n) for i, n in zip(ns_idx, names)]


class _TableClock:
    """Benchmark-side per-table clock: the first and last catalog call
    that names each table."""

    def __init__(self) -> None:
        self.first: dict[str, float] = {}
        self.last: dict[str, float] = {}

    def reset(self) -> None:
        self.first.clear()
        self.last.clear()

    def latencies_ms(self) -> list[float]:
        return [(self.last[k] - t0) * 1e3 for k, t0 in self.first.items()]


def _instrument_client(client, run: Run, clock: _TableClock, calls: dict[str, int]) -> None:
    tracer = run.tracer
    for op in CLIENT_OPS:
        fn = getattr(client, op)

        def wrapped(*args, _fn=fn, _op=op, **kwargs):
            key = str(args[0]) if _op in ("load_table_metadata_location", "register_table", "drop_table") else None
            t0 = time.perf_counter()
            if key is not None:
                clock.first.setdefault(key, t0)
            with tracer.span(f"catalog.client.{_op}"):
                out = _fn(*args, **kwargs)
            if key is not None:
                clock.last[key] = time.perf_counter()
            calls[_op] = calls.get(_op, 0) + 1
            return out

        setattr(client, op, wrapped)


def _timed_store(run: Run, uri: str):
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog

    store = SqlCatalog(name=os.path.basename(uri), uri=uri)
    for op in CLIENT_OPS:
        setattr(store, op, run.tracer.wrap(f"catalog.store.{op}", getattr(store, op)))
    return store


class _Endpoint:
    """A REST server over a benchmark-owned store, plus one client."""

    def __init__(self, run: Run, name: str, root: str):
        from iceberg_catalog_migrator_spark.catalog.rest_server import IcebergRestCatalogServer
        from iceberg_catalog_migrator_spark.catalog.service import RestCatalog

        self.server = IcebergRestCatalogServer(
            _timed_store(run, os.path.join(root, f"{name}.db")), owns_store=True
        )
        self.client = RestCatalog(name, {"uri": self.server.start()})

    def close(self) -> None:
        self.client.close()
        self.server.close()


def _write_pointers(root: str, tables) -> dict[str, str]:
    """One metadata file per table; returns table name -> its location."""
    from iceberg_catalog_migrator_spark.catalog import TableIdentifier
    from iceberg_catalog_migrator_spark.catalog.base import write_table_metadata

    return {
        str(TableIdentifier.of(*ns, name)): write_table_metadata(
            os.path.join(root, *ns, name), "struct<id:bigint>", version=1
        )
        for ns, name in tables
    }


def _build(run: Run, root: str, pointers: dict[str, str]) -> tuple[_Endpoint, _Endpoint]:
    """Two fresh endpoints; the source registers every pointer."""
    from iceberg_catalog_migrator_spark.catalog import TableIdentifier

    os.makedirs(root, exist_ok=True)
    src, tgt = _Endpoint(run, "src", root), _Endpoint(run, "tgt", root)
    for ns in NAMESPACES:
        for depth in range(1, len(ns) + 1):
            if not src.client.namespace_exists(ns[:depth]):
                src.client.create_namespace(ns[:depth])
    for key, loc in pointers.items():
        src.client.register_table(TableIdentifier.parse(key), loc)
    return src, tgt


def _pin(cpus: set[int]) -> None:
    """Move every thread of this process onto ``cpus``; threads started
    later inherit their creator's CPUs."""
    for tid in os.listdir("/proc/self/task"):
        try:
            os.sched_setaffinity(int(tid), cpus)
        except ProcessLookupError:  # the thread ended meanwhile
            pass


def _close_all(endpoints: list[_Endpoint]) -> None:
    """Close endpoints side by side: each server's shutdown waits out its
    poll interval."""
    threads = [threading.Thread(target=e.close) for e in endpoints]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def run_workload(run: Run) -> None:
    from iceberg_catalog_migrator_spark.catalog import CatalogMigrator

    cpus = os.sched_getaffinity(0)
    order = sorted(cpus)
    t0 = time.perf_counter()
    pointers = _write_pointers(run.path("warehouse"), table_names(run.seed))
    run.layers["setup.ingest_s"] = time.perf_counter() - t0
    setups, builds = [], []
    for i in range(SETUP_REPEATS):
        _pin({order[i % len(order)]})
        t0 = time.perf_counter()
        builds.append(_build(run, run.path(f"catalogs{i}"), pointers))
        setups.append(time.perf_counter() - t0)
    src, tgt = builds.pop()
    _close_all([e for pair in builds for e in pair])
    run.layers["setup.fixture_s"] = median(setups)
    # the metadata files are generated input, like the Spark workloads'
    # tables, and their write time follows the disk; set-up is the catalog
    run.e2e["setup_s"] = run.layers["setup.fixture_s"]
    run.details["setup_repeats_s"] = setups

    clock = _TableClock()
    calls: dict[str, int] = {}
    for e in (src, tgt):
        _instrument_client(e.client, run, clock, calls)

    walls, lat_ms, windows = [], [], []
    moved = 0
    requests0 = src.server.requests_served + tgt.server.requests_served
    units = max(2, len(order) * max(1, round(run.seconds / UNIT_S / len(order))))
    t_start = time.perf_counter()
    for unit in range(units):
        _pin({order[unit % len(order)]})
        clock.reset()
        t0 = time.perf_counter()
        with run.tracer.span("migrate_rest.unit"):
            migrator = CatalogMigrator(src.client, tgt.client, delete_entries_from_source_catalog=True)
            with run.tracer.span("catalog.discover"):
                ids = migrator.get_matching_table_identifiers(None)
            with run.tracer.span("catalog.migrator.register_tables"):
                migrator.register_tables(ids)
            result = migrator.result()
        t1 = time.perf_counter()
        walls.append(t1 - t0)
        windows.append((t0, t1))
        lat_ms.extend(clock.latencies_ms())
        run.attempted += len(ids)
        run.failed += len(result.failed_to_register_table_identifiers) + len(
            result.failed_to_delete_table_identifiers
        )
        run.check(len(ids) == N_TABLES, f"unit {unit}: discovered {len(ids)} of {N_TABLES} tables")
        moved += len(result.registered_table_identifiers)
        src, tgt = tgt, src
    timed_s = time.perf_counter() - t_start
    _pin(cpus)
    run.tracer.enabled = False
    requests = src.server.requests_served + tgt.server.requests_served - requests0

    # the median unit over the CPUs' turns, not the fastest one
    run.e2e["wall_s"] = median(walls)
    run.details.update(units=units, timed_s=timed_s, unit_walls_s=walls)
    layers = run.layers
    layers["migrate_rest.tables_per_s"] = moved / sum(walls)
    layers["migrate_rest.table_p50_ms"] = percentile(lat_ms, 0.5) or 0.0
    layers["migrate_rest.table_p90_ms"] = percentile(lat_ms, 0.9) or 0.0
    if run.traced:
        spans = run.tracer.by_name()

        def per_unit(name: str) -> float:
            return sum(s.duration for s in spans.get(name, [])) / units

        client_s = store_s = 0.0
        for op in CLIENT_OPS:
            layers[f"catalog.client.{op}.calls"] = len(spans.get(f"catalog.client.{op}", [])) / units
            layers[f"catalog.client.{op}.s"] = per_unit(f"catalog.client.{op}")
            layers[f"catalog.store.{op}.s"] = per_unit(f"catalog.store.{op}")
            client_s += layers[f"catalog.client.{op}.s"]
            store_s += layers[f"catalog.store.{op}.s"]
        layers["catalog.wire_s"] = client_s - store_s
        layers["catalog.discover_s"] = per_unit("catalog.discover")
        layers["catalog.migrator.self_s"] = sum(walls) / units - client_s
        layers["catalog.rpcs_per_table"] = sum(calls.values()) / max(1, run.attempted)
        layers["catalog.server.requests"] = requests / units
        run.trace_summary(windows)

    # output check (untimed): every table sits in the catalog it was last
    # moved to, is gone from the other, and still points at the original
    # metadata file — the migration copies no data
    from iceberg_catalog_migrator_spark.catalog import TableIdentifier

    holder, other = src, tgt  # after the last swap, src holds the tables
    listed = {str(t) for ns in NAMESPACES for t in holder.client.list_tables(ns)}
    run.check(listed == set(pointers), f"target lists {len(listed)} of {len(pointers)} tables")
    leftover = sum(len(other.client.list_tables(ns)) for ns in NAMESPACES)
    run.check(leftover == 0, f"{leftover} tables left in the source catalog")
    wrong = sum(
        1
        for key, loc in pointers.items()
        if holder.client.load_table_metadata_location(TableIdentifier.parse(key)) != loc
    )
    run.check(wrong == 0, f"{wrong} tables point at a different metadata file")
    _close_all([src, tgt])
    log(f"migrate_rest: {units} units, {moved} tables moved in {timed_s:.2f}s")
