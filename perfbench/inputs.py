"""Seeded inputs for the benchmark workloads, with their expected outputs.

Everything here is a pure function of the seed. Values come from a fixed
integer mix of (seed, catalog, distribution, row, column); expected
outputs are derived from that formula and the published wide-CSV
contract (``indice_tiempo`` label, value columns in field declaration
order, one row per period, ascending), never from engine code:

- ``make_index`` writes an index of small catalogs (CSV, TXT and xlsx
  distributions, a fixed share of them broken on purpose) and returns
  the expected wide-CSV bytes, distribution statuses and indicator counts.
- ``make_query_tables`` writes the tables the query catalog reads, with
  the column names and types of the synthetic test data in TESTDATA.md,
  at a small scale.
"""

from __future__ import annotations

import datetime as dt
import json
import os

MASK64 = (1 << 64) - 1
MISSING = "s/d"

# Fleet shape. Counts are fixed so every seed does the same amount of
# work; the seed moves values, start dates and which value is missing.
N_CATALOGS = 1
MONTHLY_PERIODS = 360
QUARTERLY_PERIODS = 160
ANNUAL_PERIODS = 60

FREQ_MONTHS = {"R/P1M": 1, "R/P3M": 3, "R/P1Y": 12}


def mix(*parts) -> int:
    """splitmix64 over the parts: a stable integer hash of its inputs."""
    h = 0x9E3779B97F4A7C15
    for p in parts:
        if isinstance(p, str):
            p = int.from_bytes(p.encode(), "little")
        h = (h ^ (p & MASK64)) & MASK64
        h = (h + 0x9E3779B97F4A7C15) & MASK64
        h = ((h ^ (h >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
        h = ((h ^ (h >> 27)) * 0x94D049BB133111EB) & MASK64
        h ^= h >> 31
    return h


def cell_value(seed: int, catalog: str, dist: str, row: int, col: int) -> float | None:
    """The value of one observation, or None where it is missing.

    Multiples of 0.25 below 10^6 are exact binary doubles, so Python's
    ``repr`` and the JVM's ``Double.toString`` print them identically.
    Only the first series ever misses a value, so no row is all-missing.
    """
    h = mix(seed, catalog, dist, row, col)
    if col == 0 and (h >> 48) % 23 == 0:
        return None
    return (h % 4_000_000) / 4


def periods(start: dt.date, n: int, months: int) -> list[dt.date]:
    out = []
    for i in range(n):
        m = start.month - 1 + i * months
        out.append(dt.date(start.year + m // 12, m % 12 + 1, 1))
    return out


def render_table(titles, dates, values, sep=",", decimal=".", missing="") -> bytes:
    """Header plus one ascending row per period, ``indice_tiempo`` first."""
    lines = [sep.join(["indice_tiempo", *titles])]
    for d, row in zip(dates, values):
        cells = [missing if v is None else repr(v).replace(".", decimal) for v in row]
        lines.append(sep.join([d.isoformat(), *cells]))
    return ("\n".join(lines) + "\n").encode()


def expected_csv(titles: list[str], dates: list[dt.date], values: list[list]) -> bytes:
    """Wide-CSV contract: a missing value is an empty cell."""
    return render_table(titles, dates, values)


def freeze_zip(path: str) -> None:
    """Rewrite a zip with fixed member timestamps, so that the same seed
    gives byte-identical workbooks whenever they are written."""
    import zipfile

    with zipfile.ZipFile(path) as zf:
        members = [(i.filename, zf.read(i)) for i in zf.infolist()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data,
                        compress_type=zipfile.ZIP_DEFLATED)


def _fields(prefix: str, freq: str, n_series: int, scraped: bool) -> list[dict]:
    time_field = {
        "id": f"{prefix}_t",
        "title": "indice_tiempo",
        "type": "date",
        "specialType": "time_index",
        "specialTypeDetail": freq,
    }
    if scraped:
        time_field["scrapingDataStartCell"] = "A2"
    out = [time_field]
    for j in range(n_series):
        f = {
            "id": f"{prefix}_s{j}",
            "title": f"{prefix}_serie_{j}",
            "type": "number",
            "units": "unidades",
        }
        if scraped:
            col = chr(ord("B") + j)
            f["scrapingIdentifierCell"] = f"{col}1"
            f["scrapingDataStartCell"] = f"{col}2"
        out.append(f)
    return out


# (distribution id, route, frequency, series, periods, fault). Route is
# how the catalog declares the source: "csv" (downloadURL), "txt" or a
# sheet of the catalog's workbook. Faults make the distribution ERROR.
DISTRIBUTIONS = [
    ("1.1", "csv", "R/P1M", 3, MONTHLY_PERIODS, None),
    ("1.2", "txt", "R/P3M", 2, QUARTERLY_PERIODS, None),
    ("1.3", "csv", "R/P1M", 2, MONTHLY_PERIODS, "missing_file"),
    ("1.4", "txt", "R/P1Y", 2, ANNUAL_PERIODS, "garbage"),
    ("2.1", "xlsx", "R/P1M", 3, MONTHLY_PERIODS, None),
    ("2.2", "xlsx", "R/P1Y", 2, ANNUAL_PERIODS, None),
    ("2.3", "xlsx", "R/P3M", 2, QUARTERLY_PERIODS, "header_mismatch"),
]


def _dataset(identifier: str, title: str, periodicity: str, dists: list) -> dict:
    return {
        "identifier": identifier,
        "title": title,
        "description": f"{title} (serie sintetica)",
        "publisher": {"name": "Oficina de estadistica"},
        "accrualPeriodicity": periodicity,
        "issued": "2020-01-01",
        "superTheme": ["ECON"],
        "theme": ["actividad"],
        "keyword": ["actividad"],
        "distribution": dists,
    }


def make_index(root: str, seed: int, n_catalogs: int = N_CATALOGS) -> dict:
    """Write an index of ``n_catalogs`` catalogs under ``root``.

    Returns ``{"index": run_etl index, "files": {basename: path},
    "expected": {catalog_id: {...}}}``. Each expected catalog holds
    ``distributions`` (``{distribution_id: {"status", "csv", "path"}}``;
    ``csv`` is None for an ERROR distribution, which must write no file at
    its output ``path``) and ``indicators``.
    """
    from series_tiempo_ar_scraping_spark.sources.xlsx import write_xlsx

    files_dir = os.path.join(root, "files")
    os.makedirs(files_dir, exist_ok=True)
    index: dict = {}
    files: dict[str, str] = {}
    expected: dict = {}
    for c in range(n_catalogs):
        cid = f"cat{c:02d}"
        workbook = f"{cid}-planilla.xlsx"
        sheets: dict = {}
        direct, scraped = [], []
        exp_dists: dict = {}
        for rid, route, freq, n_series, n_periods, fault in DISTRIBUTIONS:
            prefix = f"{cid}_{rid.replace('.', '_')}"
            fields = _fields(prefix, freq, n_series, route == "xlsx")
            titles = [f["title"] for f in fields[1:]]
            start = dt.date(1950 + mix(seed, cid, rid, "start") % 20, 1, 1)
            dates = periods(start, n_periods, FREQ_MONTHS[freq])
            values = [
                [cell_value(seed, cid, rid, i, j) for j in range(n_series)]
                for i in range(n_periods)
            ]
            file_name = f"{prefix}.csv"
            dist = {
                "identifier": rid,
                "title": f"Distribucion {rid}",
                "fileName": file_name,
                "format": "CSV",
                "field": fields,
                "issued": "2020-01-01",
            }
            if route == "csv":
                src = f"{prefix}.csv"
                dist["downloadURL"] = f"http://fuente.test/{src}"
                body = render_table(titles, dates, values, missing=MISSING)
                direct.append(dist)
            elif route == "txt":
                src = f"{prefix}.txt"
                dist["scrapingFileURL"] = f"http://fuente.test/{src}"
                body = render_table(
                    titles, dates, values, sep=";", decimal=",", missing=MISSING
                )
                direct.append(dist)
            else:
                src = workbook
                sheet = f"s{rid.replace('.', '_')}"
                dist["scrapingFileURL"] = f"http://fuente.test/{src}"
                dist["scrapingFileSheet"] = sheet
                header = ["indice_tiempo"] + [f["id"] for f in fields[1:]]
                if fault == "header_mismatch":
                    header = header[:1] + [f"{h}_otro" for h in header[1:]]
                sheets[sheet] = (
                    header,
                    [
                        (d.isoformat(), *[MISSING if v is None else v for v in row])
                        for d, row in zip(dates, values)
                    ],
                )
                scraped.append(dist)
            if route != "xlsx":
                path = os.path.join(files_dir, src)
                if fault == "garbage":
                    body = bytes(mix(seed, cid, rid, k) % 251 for k in range(512))
                    body = body.replace(b"\n", b" ").replace(b"\r", b" ")
                if fault != "missing_file":
                    with open(path, "wb") as fh:
                        fh.write(body)
                files[src] = path
            ok = fault is None
            dataset = "ds-planilla" if route == "xlsx" else "ds-directo"
            exp_dists[rid] = {
                "status": "OK" if ok else "ERROR",
                "csv": expected_csv(titles, dates, values) if ok else None,
                "path": os.path.join(
                    "catalog", cid, "dataset", dataset,
                    "distribution", rid, "download", file_name,
                ),
            }
        wb_path = os.path.join(files_dir, workbook)
        write_xlsx(wb_path, sheets)
        freeze_zip(wb_path)
        files[workbook] = wb_path
        catalog = {
            "identifier": cid,
            "title": f"Catalogo {cid}",
            "description": "Catalogo sintetico del benchmark",
            "publisher": {"name": "Oficina de estadistica", "mbox": "datos@oficina.test"},
            "superThemeTaxonomy": "http://datos.test/superThemeTaxonomy.json",
            "issued": "2020-01-01",
            "modified": "2024-01-01",
            "themeTaxonomy": [
                {"id": "actividad", "label": "Actividad", "description": "Series de actividad"}
            ],
            "dataset": [
                _dataset("ds-directo", "Series directas", "R/P1M", direct),
                _dataset("ds-planilla", "Series en planilla", "R/P1M", scraped),
            ],
        }
        cat_path = os.path.join(root, f"{cid}.json")
        with open(cat_path, "w") as fh:
            json.dump(catalog, fh, indent=1, sort_keys=True)
        index[cid] = {"metadata_path": cat_path, "formato": "json"}
        n_ok = sum(d["status"] == "OK" for d in exp_dists.values())
        expected[cid] = {
            "distributions": exp_dists,
            "indicators": {
                "datasets": 2,
                "datasets_ok": 2,
                "datasets_error": 0,
                "distributions": len(exp_dists),
                "distributions_ok": n_ok,
                "distributions_error": len(exp_dists) - n_ok,
            },
        }
    return {"index": index, "files": files, "expected": expected}


# -- query-lane tables ---------------------------------------------------

QUERY_SCALE = 0.02  # of TPC-H row counts; README.md gives the measurements behind it
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLOURS = ["blue", "green", "red", "small", "large", "black", "white", "gold"]
THINGS = ["anvil", "bolt", "ring", "widget", "gear", "valve", "spring", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_DOCUMENTS = 80
N_EMBEDDINGS = 500
EMBEDDING_DIM = 64
N_LABELS = 10


def make_query_tables(root: str, seed: int, scale: float = QUERY_SCALE) -> str:
    """Write region … events, documents and embeddings as parquet under ``root``; returns ``root``.

    Keys are dense and unique like TPC-H (lineitem references orders,
    part and supplier; orders reference customer), so parent-key
    invariants the queries rely on hold for every seed.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_orders = max(200, int(1_500_000 * scale))
    n_users = max(20, int(15_000 * scale))
    n_events = max(500, int(1_000_000 * scale))

    def cents(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def day(base: str, lo: int, hi: int, n: int):
        days = rng.integers(lo, hi, n)
        return (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype(
            "datetime64[us]"
        )

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS,
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{COLOURS[a]} {THINGS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
    }
    orderdate = day("1995-01-01", 0, 2400, n_orders)
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": cents(1000.0, 500000.0, n_orders),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines_per_order)
    n_lines = len(l_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_linenumber = (np.arange(n_lines) - np.repeat(starts, lines_per_order) + 1)
    quantity = rng.integers(1, 51, n_lines).astype("float64")
    ship = np.repeat(orderdate, lines_per_order) + rng.integers(
        1, 122, n_lines
    ).astype("timedelta64[D]")
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_lines).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype("int64"),
        "l_linenumber": l_linenumber.astype("int32"),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * cents(900.0, 1100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")
    )
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": cents(0.01, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = rng.integers(8, 80, N_DOCUMENTS)
    text = [" ".join(rng.choice(WORDS, n)) for n in words]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype="int64"),
        "text": text,
        "lang": rng.choice(LANGS, N_DOCUMENTS),
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in text], dtype="int64"),
    })
    labels = rng.integers(0, N_LABELS, N_EMBEDDINGS)
    centers = rng.normal(size=(N_LABELS, EMBEDDING_DIM))
    vecs = centers[labels] + 0.5 * rng.normal(size=(N_EMBEDDINGS, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })
    for name, df in tables.items():
        if not isinstance(df, pa.Table):
            df = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(df, os.path.join(root, f"{name}.parquet"))
    return root
