"""The benchmark workloads: set-up, one pass, and the output checks.

A pass is one closed-loop operation of one client: the next pass starts
only after the previous one has finished and been verified.

- ``etl_catalog``: ``main.run_etl`` over a seeded index of small catalogs
  (``inputs.make_index``); every catalog and every distribution is an
  operation, checked against the generator's expected statuses, wide-CSV
  bytes and indicator counts.
- ``query_lane``: the pinned ``QUERY_LANE`` entries of the query catalog
  over seeded tables with the session table cache on, each materialised
  with a ``noop`` write; each query is an operation. ``oracle_check``
  compares every lane query with its DuckDB oracle once per run.
"""

from __future__ import annotations

import contextlib
import os
import shutil

# Pinned here, not imported from bench.py, so an edit there cannot move
# the workload. Iterative entries (ROADMAP item 1) first: their cost is
# mostly Spark jobs run while the frame is being built.
ITERATIVE_QUERIES = [
    "graph_bounded_shortest_paths",
    "dedup_connected_components",
    "kmeans_lloyd_clusters",
    "rfm_customer_segments",
    "pagerank_part_graph",
]
QUERY_LANE = ITERATIVE_QUERIES + [
    "q01_pricing_summary",
    "sessionize_events",
]
# The tables the lane reads; set-up caches these. The generator writes
# every table, because the oracle connection registers all of them.
TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]


def lane_queries() -> dict:
    """The lane's query functions; fails loudly if one is not registered."""
    from series_tiempo_ar_scraping_spark.queries import QUERIES

    missing = [n for n in QUERY_LANE if n not in QUERIES]
    if missing:
        raise SystemExit(f"pinned lane queries missing from QUERIES: {missing}")
    return {n: QUERIES[n] for n in QUERY_LANE}


# -- etl_catalog -------------------------------------------------------------


def etl_inputs(spark, root: str, seed: int) -> dict:
    from inputs import make_index

    return make_index(root, seed)


def etl_verify(results: dict, inputs: dict, out_dir: str) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) for one pass's outputs."""
    from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

    attempted = failed = 0
    problems: list[str] = []
    for cid, exp in inputs["expected"].items():
        res = results.get(cid, {"error": "catalog missing from results"})
        attempted += 1 + len(exp["distributions"])
        if "error" in res:
            failed += 1 + len(exp["distributions"])
            problems.append(f"{cid}: {res['error']}")
            continue
        ind = {k: res["indicators"].get(k) for k in exp["indicators"]}
        # one wide CSV per OK distribution, plus data.json and catalog.xlsx
        n_ok = exp["indicators"]["distributions_ok"]
        if ind != exp["indicators"] or res.get("written") != n_ok + 2:
            failed += 1
            problems.append(f"{cid}: indicators {ind} written {res.get('written')}")
        report = read_sheets(res["reports"]["reporte-distributions"])
        status = {
            r["distribution_identifier"]: r["distribution_status"]
            for r in report["reporte-distributions"]
        }
        for rid, want in exp["distributions"].items():
            got_csv = None
            path = os.path.join(out_dir, want["path"])
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    got_csv = fh.read()
            if status.get(rid) != want["status"] or got_csv != want["csv"]:
                failed += 1
                problems.append(
                    f"{cid}/{rid}: status {status.get(rid)} want {want['status']}"
                    f", csv {'matches' if got_csv == want['csv'] else 'differs'}"
                )
    return attempted, failed, problems


def run_etl_pass(spark, inputs: dict, work: str, k: int, tracer=None):
    """One verified pass. Returns ((attempted, failed, problems), cleanup)."""
    from series_tiempo_ar_scraping_spark.main import run_etl

    def resolver(ref: str) -> str | None:
        return inputs["files"].get(ref.rsplit("/", 1)[-1])

    out = os.path.join(work, f"out{k}")
    with tracer.span("main.run_etl") if tracer else contextlib.nullcontext():
        results = run_etl(inputs["index"], out, spark=spark, file_resolver=resolver)
        if tracer:
            tracer.close_catalog()
    return etl_verify(results, inputs, out), lambda: shutil.rmtree(out, ignore_errors=True)


# -- query_lane ------------------------------------------------------------


def lane_inputs(spark, root: str, seed: int) -> str:
    """Generate the tables and cache them in the session (set-up work)."""
    from inputs import make_query_tables

    from series_tiempo_ar_scraping_spark.session import load_table

    make_query_tables(root, seed)
    for t in TABLES:
        load_table(spark, root, t)
    return root


def run_lane_pass(spark, sf_dir: str, work: str, k: int, tracer=None):
    """One pass over the lane; a query that raises fails. Oracle
    mismatches are charged per pass by the caller after ``oracle_check``.
    Traced, each query is split into construction, planning (forced with
    ``executedPlan()``) and the noop write. Returns ((attempted, failed,
    problems), cleanup)."""
    def span(kind, query, **extra):
        return tracer.span(kind, query=query, **extra) if tracer else contextlib.nullcontext()

    failed, problems = 0, []
    for name, fn in lane_queries().items():
        try:
            with span("queries.construct", name, iterative=name in ITERATIVE_QUERIES):
                df = fn(spark, sf_dir)
            if tracer:
                with span("queries.plan", name):
                    df._jdf.queryExecution().executedPlan()
            with span("queries.execute", name):
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - counted, not fatal
            failed += 1
            problems.append(f"{name}: {exc!r}"[:300])
    return (len(QUERY_LANE), failed, problems), lambda: None


def oracle_check(spark, sf_dir: str) -> tuple[set[str], list[str]]:
    """Names whose Spark result differs from the DuckDB oracle.

    Four queries are compared at a time: DuckDB and the JVM both work
    outside the interpreter lock, so one query's oracle overlaps
    another's Spark side. Not timed."""
    from concurrent.futures import ThreadPoolExecutor

    from series_tiempo_ar_scraping_spark.queries import resolve_deferred_oracles
    from series_tiempo_ar_scraping_spark.testing import compare_query

    lane_queries()
    resolve_deferred_oracles(strict=True)  # once, before the threads share ORACLES
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {n: pool.submit(compare_query, spark, sf_dir, n) for n in QUERY_LANE}
    bad, problems = set(), []
    for name, fut in futures.items():
        try:
            res = fut.result()
            ok = res.get("match") is True
        except Exception as exc:  # noqa: BLE001 - counted, not fatal
            res, ok = {"status": repr(exc)[:300]}, False
        if not ok:
            bad.add(name)
            problems.append(f"{name}: oracle {res.get('status')}")
    return bad, problems
