"""Tests for the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402
import summary  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_identical_etl_index(tmp_path):
    a = inputs.make_index(str(tmp_path / "a"), 7)
    b = inputs.make_index(str(tmp_path / "b"), 7)
    assert tree(str(tmp_path / "a")) == tree(str(tmp_path / "b"))
    assert a["expected"] == b["expected"]
    c = inputs.make_index(str(tmp_path / "c"), 8)
    assert tree(str(tmp_path / "a")) != tree(str(tmp_path / "c"))


def test_same_seed_gives_identical_query_tables(tmp_path):
    inputs.make_query_tables(str(tmp_path / "a"), 3)
    inputs.make_query_tables(str(tmp_path / "b"), 3)
    assert tree(str(tmp_path / "a")) == tree(str(tmp_path / "b"))


def test_query_tables_keep_parent_keys_unique(tmp_path):
    import pyarrow.parquet as pq

    root = inputs.make_query_tables(str(tmp_path), 3)
    orders = pq.read_table(os.path.join(root, "orders.parquet")).to_pandas()
    lines = pq.read_table(os.path.join(root, "lineitem.parquet")).to_pandas()
    assert orders["o_orderkey"].is_unique
    assert not lines.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert set(lines["l_orderkey"]) <= set(orders["o_orderkey"])


def test_expected_csv_contract_on_tiny_table():
    dates = inputs.periods(dt.date(1999, 11, 1), 3, 1)
    values = [[1.5, 2.0], [None, 3.25], [0.25, 100.0]]
    assert inputs.expected_csv(["a", "b"], dates, values) == (
        b"indice_tiempo,a,b\n"
        b"1999-11-01,1.5,2.0\n"
        b"1999-12-01,,3.25\n"
        b"2000-01-01,0.25,100.0\n"
    )
    assert inputs.render_table(
        ["a", "b"], dates[:2], values[:2], sep=";", decimal=",", missing="s/d"
    ) == b"indice_tiempo;a;b\n1999-11-01;1,5;2,0\n1999-12-01;s/d;3,25\n"
    assert inputs.periods(dt.date(1950, 1, 1), 3, 3)[-1] == dt.date(1950, 7, 1)


def test_cell_values_print_the_same_in_python_and_java():
    for row in range(200):
        v = inputs.cell_value(1, "cat00", "1.1", row, 1)
        assert v is not None and v * 4 == int(v * 4) and 0 <= v < 1e6


def test_etl_expectations_follow_the_sources(tmp_path):
    from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

    index = inputs.make_index(str(tmp_path), 5, n_catalogs=1)
    exp = index["expected"]["cat00"]
    statuses = {k: d["status"] for k, d in exp["distributions"].items()}
    assert statuses == {
        "1.1": "OK", "1.2": "OK", "1.3": "ERROR", "1.4": "ERROR",
        "2.1": "OK", "2.2": "OK", "2.3": "ERROR",
    }
    assert exp["indicators"]["distributions_ok"] == 4
    assert "cat00_1_3.csv" not in os.listdir(str(tmp_path / "files"))
    with open(index["files"]["cat00_1_1.csv"], "rb") as fh:
        source = fh.read()
    assert source.replace(b",s/d,", b",,") == exp["distributions"]["1.1"]["csv"]
    sheet = read_sheets(index["files"]["cat00-planilla.xlsx"])["s2_2"]
    want = exp["distributions"]["2.2"]["csv"].decode().splitlines()[1]
    got = sheet[0]
    assert want.split(",")[0] == got["indice_tiempo"]
    assert float(want.split(",")[1]) == float(got["cat00_2_2_s0"] or "nan")


def test_names_and_units_meet_the_contract(spec):
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            names.append(m["name"])
            assert UNIT.fullmatch(m["unit"]), m
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_summary_lists_every_metric_per_workload(spec):
    def fake(group):
        ctx = {"nproc": 4, "loadavg": [0.1, 0.1, 0.1], "steal_pct": 0.0,
               "passes": {"cold": 1, "warm": 2}, "failed_share": 0.0, "pass_max_s": 1.0,
               "samples": {m["name"]: 2 for m in spec["end_to_end"]}}
        res = {"correct": True, "attempted": 3, "failed": 0, "metrics": {
            m["name"]: {"value": 1.0, "unit": m["unit"]} for m in spec[group]}}
        return ctx, res

    runs = {w["name"]: {"plain": fake("end_to_end"), "traced": fake("per_layer")}
            for w in spec["workloads"]}
    text = summary.render(spec, runs)
    blocks = text.split("== ")[1:]
    assert len(blocks) == len(spec["workloads"])
    for block in blocks:
        for m in spec["end_to_end"]:
            assert re.search(rf"{re.escape(m['name'])}\s+\S+\s+{m['unit']}\b", block)
        for extra in ("pass_max_s", "failed_share", "trace overhead"):
            assert extra in block


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
    ]
    assert layers._self_time(spans)[0] == pytest.approx(5.0)


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_catalog",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_spark_work_is_attributed_to_span_groups(tmp_path):
    app = "local-1"
    log = tmp_path / f"eventlog_v2_{app}"
    log.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb-1"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 4}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "JVM GC Time": 500, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "pb-0"}},
    ]
    (log / f"events_1_{app}").write_text("\n".join(json.dumps(e) for e in events))
    work = layers.spark_work_by_group(str(tmp_path), app)
    assert work["pb-1"] == {"jobs": 1, "stages": 1, "tasks": 4,
                            "shuffle_write_bytes": 100, "spill_bytes": 7, "gc_s": 0.5}
    spans = [
        {"id": 0, "parent": None, "pass": 1, "name": "pass", "start": 0.0, "end": 4.0},
        {"id": 1, "parent": 0, "pass": 1, "name": "sinks.csv_wide.write_wide_csvs_bulk",
         "start": 1.0, "end": 2.0, "files": 3},
    ]
    m = layers.layer_metrics(spans, work, [1])
    assert (m["spark.jobs"], m["sinks.csv_wide.jobs"], m["sinks.csv_wide.files"]) == (2, 1, 3)
    assert m["sinks.csv_wide.s"] == pytest.approx(1.0)
