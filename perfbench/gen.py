"""Seeded input generator for the benchmark workloads.

Every table keeps the schema the registry queries and the pipelines read
(the TPC-H-like tables, ``events`` and ``documents`` of TESTDATA.md, and
the stocks/news raw shapes of FIXTURES.md A1/A2). Values are drawn from
``numpy.random.default_rng(seed)``: the same seed writes byte-identical
files, another seed draws other rows of the same sizes.

Only numpy and pyarrow are imported here, so inputs are ready before the
Spark session starts and their generation is never part of set-up time.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_US = {
    "orders": int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6),
    "events": int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6),
}
DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _pick(rng, values, n) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int, near_dup_frac: float = 0.05) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary, 10-100 words
    each. A ``near_dup_frac`` share copies an earlier document and
    appends the word ``dup``; a few more are exact copies."""
    vocab = np.array(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    n_near = int(n * near_dup_frac)
    targets = rng.choice(np.arange(n // 2, n), n_near + n_near // 20, replace=False)
    for j, t in enumerate(targets):
        src = texts[int(rng.integers(0, n // 2))]
        texts[t] = src + " dup" if j < n_near else src
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tpch_tables(rng, sf: float) -> dict[str, pa.Table]:
    """TPC-H-like dimension and fact tables plus ``events`` at scale
    factor ``sf`` (sf 0.1: 150k orders, ~600k lineitems, 100k events)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_users, n_ev = int(15_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
    })
    order_day = rng.integers(0, 2405, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(EPOCH_US["orders"] + order_day * DAY_US),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_li), pa.string()),
        "l_shipdate": _ts(EPOCH_US["orders"] + ship * DAY_US),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_US["events"] + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    return t


# --- lake_etl: the reference's stocks and news sources -----------------

SECTORS = ["Banks", "Energy", "Sanitation", "Insurance", "Telecommunications"]
QUOTE_SCHEMA = pa.schema([
    ("Date", pa.string()), ("Ticker", pa.string()), ("Close", pa.float64()),
    ("High", pa.float64()), ("Low", pa.float64()), ("Open", pa.float64()),
    ("Volume", pa.int64()),
])
ARTICLE_COLUMNS = [
    "ticker", "company", "sector", "title", "source", "link",
    "published_time", "search_term", "extracted_at",
]


def stock_universe(n_tickers: int) -> list[tuple]:
    """(sector, ticker, company) dimension rows. The last ticker has a
    NULL sector, which the refined zone filters out."""
    rows = [
        (SECTORS[i % len(SECTORS)], f"TK{i:03d}.SA", f"Company {i:03d}")
        for i in range(n_tickers)
    ]
    rows[-1] = (None, rows[-1][1], rows[-1][2])
    return rows


def quotes_for_day(rng, universe, day: dt.date, window: int):
    """One extract's quote rows: ``window`` trading dates up to ``day``
    for every dimension ticker but two (left-join misses), with the A1
    edge cases mixed in. Returns (table, valid_closes): the closes of
    the rows that survive ``transform_stocks``."""
    cols = {f.name: [] for f in QUOTE_SCHEMA}
    valid: list[float] = []
    tickers = [(s, t) for s, t, _ in universe[:-3]] + [(universe[-1][0], universe[-1][1])]
    dates = [(day - dt.timedelta(days=k)).isoformat() for k in range(window)]
    for sector, ticker in tickers:
        for d in dates:
            close = round(float(rng.uniform(5, 150)), 2)
            vol = int(rng.integers(1_000, 5_000_000))
            kind = rng.random()
            if kind < 0.03:
                close = float("nan")  # NaN-origin NULL
            elif kind < 0.05:
                close = -close  # non-positive close
            elif kind < 0.07:
                vol = 0
            row = (d, ticker, close, close * 1.02, close * 0.98, close * 1.001, vol)
            for k, v in zip(cols, row):
                cols[k].append(v)
            if sector is not None and close == close and close > 0 and vol > 0:
                valid.append(close)
    # an all-null quote row, and a quote for a ticker outside the dimension
    for row in [(None, tickers[0][1], None, None, None, None, None),
                (dates[0], "ZZZZ3.SA", 10.0, 11.0, 9.0, 10.0, 100)]:
        for k, v in zip(cols, row):
            cols[k].append(v)
    return pa.table(cols, schema=QUOTE_SCHEMA), valid


def articles_for_day(rng, universe, day: dt.date, n: int):
    """One extract's scraped articles with the A2 edge cases: full-row
    duplicates, same-link rows with a later title, articles published on
    another day, and rows missing a title or a source. Returns (table,
    number of rows that survive ``transform_news``)."""
    rows = []
    stamp = day.strftime("%Y%m%d")
    extracted = f"{day.isoformat()}T20:00:00"
    for i in range(n):
        sector, ticker, company = universe[int(rng.integers(0, len(universe) - 1))]
        words = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 6))
        rows.append([
            ticker, company, sector, f"{company} {words}", f"outlet{i % 7}",
            f"https://news.test/{stamp}/{i}",
            f"{day.isoformat()}T{int(rng.integers(0, 20)):02d}:00:00",
            f"{company} stock", extracted,
        ])
    valid = len(rows)
    noise = []
    for j in range(n // 10):
        base = rows[int(rng.integers(0, valid))]
        noise.append(list(base))  # exact duplicate
        noise.append(base[:3] + ["~" + base[3]] + base[4:])  # same link, later title
        other = list(base)
        other[5] = f"https://news.test/{stamp}/old{j}"
        other[6] = f"{(day - dt.timedelta(days=1)).isoformat()}T09:00:00"
        noise.append(other)  # published the day before extraction
        missing = list(base)
        missing[5] = f"https://news.test/{stamp}/bad{j}"
        missing[3 if j % 2 else 4] = None  # no title / no source
        noise.append(missing)
    rows += noise
    order = rng.permutation(len(rows))
    cols = {c: [rows[i][k] for i in order] for k, c in enumerate(ARTICLE_COLUMNS)}
    return pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()}), valid


# --- workload inputs ----------------------------------------------------

# scale of each workload's inputs
SIZES = {
    "release": {"sf": 0.01, "docs": 500},
    "lake_etl": {"tickers": 120, "window": 20, "articles": 400,
                 "days": ["2024-01-08", "2024-01-09"]},
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir`` and
    return a manifest: the input directory, the total input bytes, and
    whatever the workload's checks need to know about the inputs."""
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    size = SIZES[workload]
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    manifest: dict = {"dir": out_dir}
    if workload == "release":
        tables = tpch_tables(rng, size["sf"])
        tables["documents"] = documents(rng, size["docs"])
    elif workload == "lake_etl":
        universe = stock_universe(size["tickers"])
        manifest.update(universe=universe, days=size["days"], expected={})
        for day in size["days"]:
            d = dt.date.fromisoformat(day)
            stamp = d.strftime("%Y%m%d")
            q, closes = quotes_for_day(rng, universe, d, size["window"])
            a, n_news = articles_for_day(rng, universe, d, size["articles"])
            tables[f"quotes_{stamp}"], tables[f"articles_{stamp}"] = q, a
            manifest["expected"][stamp] = {
                "stocks": len(closes),
                "top_closes": sorted(closes, reverse=True)[:10],
                "news": n_news,
            }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest["input_bytes"] = sum(
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in sorted(tables.items())
    )
    return manifest
