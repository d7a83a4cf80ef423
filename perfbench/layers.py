"""Traced runs: spans around the calls into each layer, Spark work per span.

Spans are installed by this file only, at the attributes ``main`` and
``plans.pipeline`` look up (for example ``plans.pipeline.extract_cells``),
so the program itself is unchanged. Each span has ``id``, ``name``,
``parent``, ``pass``, ``start`` and ``end``, stays in memory, and is
written out when the run ends. Each span also sets its own Spark job
group; jobs, stages, tasks, shuffle bytes, spill and GC time are then
attributed per group from the uncompressed event log.

A layer's self time is its span's duration minus the time its child
spans cover. Functions that return lazy frames (cells, scrape, bulk
reads, observation validation) only build plans inside the pipeline —
their execution is charged to the sink action that runs it — so the
traced run also forces each on the pass's own arguments through a
``noop`` write (``isolated_runs``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

# (module, attribute, span name) wrapped for etl_catalog. Names are
# "<layer>.<function>"; the layer is everything before the last dot.
ETL_SPANS = [
    ("plans.pipeline", "read_catalog_json", "sources.catalog.read_catalog_json"),
    ("plans.pipeline", "read_distributions_bulk", "sources.distribution_csv.read_distributions_bulk"),
    ("plans.pipeline", "sniff_txt_sep", "sources.distribution_csv.sniff_txt_sep"),
    ("plans.pipeline", "extract_cells", "sources.cells.extract_cells"),
    ("plans.pipeline", "scraping_params", "sources.scrape.scraping_params"),
    ("plans.pipeline", "check_headers", "sources.scrape.check_headers"),
    ("plans.pipeline", "scrape_observations", "sources.scrape.scrape_observations"),
    ("plans.pipeline", "validate_metadata", "operators.validation.validate_metadata"),
    ("plans.pipeline", "datasets_report", "operators.validation.datasets_report"),
    ("plans.pipeline", "validate_observations", "operators.validation.validate_observations"),
    ("plans.pipeline", "distribution_statuses", "operators.validation.distribution_statuses"),
    ("plans.pipeline", "trim_warnings", "operators.validation.trim_warnings"),
    ("plans.pipeline", "catalog_indicators", "operators.aggregations.catalog_indicators"),
    ("plans.pipeline", "sort_reports_by_status", "operators.aggregations.sort_reports_by_status"),
    ("plans.pipeline", "write_wide_csvs_bulk", "sinks.csv_wide.write_wide_csvs_bulk"),
    ("plans.pipeline", "rewrite_download_urls", "sinks.csv_wide.rewrite_download_urls"),
    ("plans.pipeline", "scrub_scraping_metadata", "sinks.csv_wide.scrub_scraping_metadata"),
    # imported inside CatalogPipeline.run / main.process_catalog at call time
    ("sinks.metadata", "write_json_catalog", "sinks.metadata.write_json_catalog"),
    ("sinks.metadata", "write_xlsx_catalog", "sinks.metadata.write_xlsx_catalog"),
    ("sinks.reports", "write_report_xlsx", "sinks.reports.write_report_xlsx"),
    ("sources.xlsx", "write_xlsx", "sinks.reports.write_xlsx"),
    ("operators.expectations", "pipeline_contract_report", "operators.expectations.pipeline_contract_report"),
]
# Lazy layers forced on their captured arguments in the traced run.
ISOLATED = {
    "sources.distribution_csv": "sources.distribution_csv.read_distributions_bulk",
    "sources.cells": "sources.cells.extract_cells",
    "sources.scrape": "sources.scrape.scrape_observations",
    "operators.validation": "operators.validation.validate_observations",
}
PKG = "series_tiempo_ar_scraping_spark"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.pass_id: int | None = None
        self.captured: dict[str, tuple] = {}
        self._catalog = None

    @contextlib.contextmanager
    def span(self, name: str, **extra):
        parent = self.stack[-1] if self.stack else None
        s = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id, **extra,
        }
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(f"pb-{s['id']}", name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self.stack.pop()
            if parent:
                self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def open_catalog(self) -> None:
        """Close the previous catalog's span and open the next one.

        ``main.process_catalog`` is a closure and cannot be wrapped, so a
        catalog's span runs from its ``CatalogPipeline`` construction to
        the next one, or to ``close_catalog`` at the end of ``run_etl``."""
        self.close_catalog()
        self._catalog = self.span("main.catalog")
        self._catalog.__enter__()

    def close_catalog(self) -> None:
        if self._catalog is not None:
            self._catalog.__exit__(None, None, None)
            self._catalog = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if name in ISOLATED.values():
                    self.captured[name] = (fn, args, kwargs)
                if name == "sinks.csv_wide.write_wide_csvs_bulk":
                    s["files"] = len(out)
                if name == "sources.cells.extract_cells":
                    s["workbooks"] = len(args[1])
                return out
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def install_etl(tracer: Tracer) -> None:
    """Wrap the layer entry points ``main`` and ``plans.pipeline`` call."""
    import importlib

    for mod, attr, name in ETL_SPANS:
        m = importlib.import_module(f"{PKG}.{mod}")
        setattr(m, attr, tracer.wrap(getattr(m, attr), name))
    pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
    cls = pipeline.CatalogPipeline
    cls.plan = tracer.wrap(cls.plan, "pipeline.plan")
    cls.run = tracer.wrap(cls.run, "pipeline.run")
    init = cls.__init__

    @functools.wraps(init)
    def traced_init(self, *args, **kwargs):
        tracer.open_catalog()
        init(self, *args, **kwargs)

    cls.__init__ = traced_init


def isolated_runs(tracer: Tracer, repeats: int = 2) -> dict[str, float]:
    """Force each captured lazy layer through a noop write; median seconds."""
    out = {}
    for layer, name in ISOLATED.items():
        if name not in tracer.captured:
            continue
        fn, args, kwargs = tracer.captured[name]
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            res = fn(*args, **kwargs)
            df = res[0] if isinstance(res, tuple) else res
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[f"{layer}.isolated_s"] = statistics.median(times)
    return out


# -- Spark work per job group, from the event log --------------------------


def spark_work_by_group(event_dir: str, app_id: str) -> dict[str, dict]:
    """{job group: {jobs, stages, tasks, shuffle_write_bytes, spill_bytes,
    gc_s}} for one application's uncompressed event log."""
    # rolling layout (eventlog_v2_<app>/events_<n>_<app>) or one file
    files = sorted(
        glob.glob(f"{event_dir}/eventlog_v2_{app_id}/events_*"),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or glob.glob(f"{event_dir}/{app_id}*")
    stage_group: dict[int, str] = {}
    by_group: dict[str, dict] = {}

    def acc(group):
        return by_group.setdefault(group, dict.fromkeys(
            ["jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"], 0))

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    a = acc(stage_group.get(info["Stage ID"], "-"))
                    a["stages"] += 1
                    a["tasks"] += info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_group.get(ev.get("Stage ID"), "-"))
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return by_group


# -- per-layer metrics -----------------------------------------------------


def _self_time(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, None
        for a, b in sorted(kids.get(s["id"], [])):
            if cur_end is None or a > cur_end:
                covered += b - a
                cur_end = b
            elif b > cur_end:
                covered += b - cur_end
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(spans: list[dict], work: dict[str, dict], warm: list[int]) -> dict[str, float]:
    """Per-warm-pass medians of every layer metric the spans support."""
    by_id = {s["id"]: s for s in spans}
    self_t = _self_time(spans)

    def jobs(s, field="jobs"):
        return work.get(f"pb-{s['id']}", {}).get(field, 0)

    def dur(s):
        return s["end"] - s["start"]

    def outermost(s, prefix):
        """True unless an ancestor span is in the same layer."""
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"].startswith(prefix):
                return False
            p = by_id[p]["parent"]
        return True

    per_pass: dict[str, list[float]] = {}
    for k in warm:
        ps = [s for s in spans if s["pass"] == k]
        m: dict[str, float] = {}

        def tot(prefix):
            """Wall time in the layer; nested spans of the layer count once."""
            return sum(dur(s) for s in ps if s["name"].startswith(prefix)
                       and outermost(s, prefix))

        def jobs_in(prefix):
            """Jobs in the layer; each job belongs to exactly one span."""
            return sum(jobs(s) for s in ps if s["name"].startswith(prefix))

        for field in ["jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"]:
            m[f"spark.{field}"] = sum(jobs(s, field) for s in ps)
        m["main.self_s"] = sum(self_t[s["id"]] for s in ps
                               if s["name"] in ("main.run_etl", "main.catalog"))
        cats = [dur(s) for s in ps if s["name"] == "main.catalog"]
        m["main.catalog_s_median"] = _median(cats)
        m["pipeline.plan_s"] = tot("pipeline.plan")
        m["pipeline.run_self_s"] = sum(self_t[s["id"]] for s in ps if s["name"] == "pipeline.run")
        m["pipeline.self_jobs"] = jobs_in("pipeline.run")
        m["sources.catalog.s"] = tot("sources.catalog.")
        m["sources.catalog.jobs"] = jobs_in("sources.catalog.")
        m["sources.distribution_csv.s"] = tot("sources.distribution_csv.")
        m["sources.cells.workbooks"] = sum(s.get("workbooks", 0) for s in ps)
        m["operators.validation.s"] = tot("operators.validation.")
        m["operators.expectations.s"] = tot("operators.expectations.")
        m["sinks.csv_wide.s"] = tot("sinks.csv_wide.write_wide_csvs_bulk")
        m["sinks.csv_wide.jobs"] = jobs_in("sinks.csv_wide.write_wide_csvs_bulk")
        m["sinks.csv_wide.files"] = sum(s.get("files", 0) for s in ps)
        m["sinks.metadata.s"] = tot("sinks.metadata.")
        # report workbooks main writes itself; sinks.metadata writes its
        # own xlsx through write_xlsx_frames, not through these spans
        m["sinks.reports.s"] = tot("sinks.reports.")
        m["queries.construct_s"] = tot("queries.construct")
        m["queries.construct_jobs"] = jobs_in("queries.construct")
        m["queries.iterative.construct_jobs"] = sum(
            jobs(s) for s in ps if s["name"] == "queries.construct" and s.get("iterative"))
        m["queries.plan_s"] = tot("queries.plan")
        m["queries.execute_s"] = tot("queries.execute")
        m["queries.execute_jobs"] = jobs_in("queries.execute")
        for key, v in m.items():
            per_pass.setdefault(key, []).append(v)
    return {k: _median(v) for k, v in per_pass.items()}
