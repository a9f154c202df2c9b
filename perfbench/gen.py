"""Seeded synthetic inputs for the benchmark.

Two input families, both a pure function of (seed, size):

* ``write_tables`` - the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``, one parquet file per table, with the
  column names, types and value domains the engine's loaders
  (``graft.Tables``) and oracle SQL expect. ``sf`` scales row counts the
  way the shared test tables do (lineitem = 6M x sf).
* ``write_months`` - an EIA-930 / GHCN-Daily year in the shape
  ``graft.etl.EtlVolume`` synthesises, cut into one landing directory per
  calendar month of the end-of-hour timestamp, which is the partition key
  the pipeline derives, so every batch carries complete partitions.
"""
import datetime as dt
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
COLORS = "blue red green cold small big shiny dull".split()
NOUNS = "anvil widget bolt ring gear spring valve pipe".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
GHCN_PARAMS = ["TMIN", "TMAX", "TAVG", "SNOW", "SNWD", "PRCP"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _ts(start, end, n, rng):
    """n random day-aligned timestamps in [start, end] as timestamp[us]."""
    days = (end - start).days
    d = rng.integers(0, days + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + d.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_li, n_ev = max(600, int(6_000_000 * sf)), max(1000, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    i32 = pa.int32()

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i // 5 for i in range(25)], i32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet", {
        "p_partkey": keys,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li, rng)})

    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.minimum(np.round(rng.exponential(50.0, n_ev) + 0.01, 2), 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random prose over a small vocabulary; ~5% are near
    # duplicates of an earlier document (one word appended or replaced)
    # and ~0.2% exact copies, so every dedup stage has pairs to find.
    texts = []
    for i in range(n_doc):
        u = rng.random()
        if i > 10 and u < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


EIA_HEADER = [
    "Balancing Authority", "Region", "Data Date", "Local Time at End of Hour",
    "UTC Time at End of Hour", "Demand Forecast (MW)", "Demand (MW) (Adjusted)",
    "Net Generation (MW) (Adjusted)", "Net Generation (MW) from Coal",
    "Net Generation (MW) from Natural Gas", "Net Generation (MW) from Nuclear",
    "Net Generation (MW) from All Petroleum Products",
    "Net Generation (MW) from Hydropower and Pumped Storage",
    "Net Generation (MW) from Solar", "Net Generation (MW) from Wind",
    "Net Generation (MW) from Other Fuel Sources",
    "Net Generation (MW) from Unknown Fuel Sources", "Demand (MW)"]


def _stamp(t):
    """EIA's ``MM/dd/yyyy h:mm:ss a`` (12-hour clock, hour not padded)."""
    return f"{t:%m/%d/%Y} {int(t.strftime('%I'))}:{t:%M:%S %p}"


def month_start(k):
    """First instant of landing month k (0 = January 2021)."""
    return dt.datetime(2021 + k // 12, k % 12 + 1, 1)


def write_months(out, seed, n_months, n_bas, n_stations):
    """Landing month k under ``out/m<k>/``: EIA rows whose end-of-hour time
    falls in that month (``bal_auth/part-0.csv.gz``) and the GHCN element
    rows of its days (``weather/part-0.csv.gz`` plus ``locations.csv``).
    Values keep the QC invariants true (nine fuel parts sum to net
    generation), as EtlVolume's do. Returns per-month EIA row counts."""
    rng = np.random.default_rng(seed + 1)
    rows = []
    for k in range(n_months):
        lo, hi = month_start(k), month_start(k + 1)
        d = f"{out}/m{k:03d}"
        os.makedirs(f"{d}/bal_auth", exist_ok=True)
        os.makedirs(f"{d}/weather", exist_ok=True)
        hours = int((hi - lo).total_seconds() // 3600)
        n = 0
        with gzip.open(f"{d}/bal_auth/part-0.csv.gz", "wt", compresslevel=1) as f:
            f.write(",".join(EIA_HEADER) + "\n")
            for h in range(hours):
                t = lo + dt.timedelta(hours=h)
                utc = t + dt.timedelta(hours=5)
                for b in range(n_bas):
                    v = int(rng.integers(0, 100))
                    f.write(",".join([
                        f"BA{b:02d}", f"Region{b % 8}", t.strftime("%m/%d/%Y"),
                        _stamp(t), _stamp(utc),
                        str(20000 + int(rng.integers(0, 997))),
                        str(20000 + int(rng.integers(0, 991))),
                        str(9000 + 9 * v)] + [str(1000 + v)] * 9 +
                        [str(19990 + int(rng.integers(0, 991)))]) + "\n")
                    n += 1
        rows.append(n)
        with gzip.open(f"{d}/weather/part-0.csv.gz", "wt", compresslevel=1) as f:
            day = lo
            while day < hi:
                ds = day.strftime("%Y%m%d")
                for s in range(n_stations):
                    for p in GHCN_PARAMS:
                        f.write(f"USW{s:05d},{ds},{p},{int(rng.integers(-300, 300))},,,S,0700\n")
                day += dt.timedelta(days=1)
        with open(f"{d}/weather/locations.csv", "w") as f:
            f.write("Stations,Acronym,Name\n")
            for b in range(n_bas):
                f.write(f"USW{b:05d},BA{b:02d},Station {b}\n")
    return rows
