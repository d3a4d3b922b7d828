"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, a different seed different ones. Two inputs:

* ``covid_csv``: a synthetic "COVID-19 Activity" export -- 14 string
  columns, 4 states x 50 counties x 10 dates in shuffled order, plus the
  edge rows of FIXTURES.md section 2 (padded, lowercase and apostrophe
  names, missing, malformed and duplicate counts). It returns the
  tallies the warehouse and the five dashboard cards must reproduce.
* ``tables``: the ten star-schema / corpus tables the library's queries
  read, one parquet file each, in the sf0.01 test tables' shape.

Every table parameter below was measured on the repository's sf0.01 test
tables (the ones ``tools/check.py`` grades against): row counts, key and
value ranges, category counts and weights, the value distribution of
``events.value`` (mean 49.6, median 34.6: exponential with mean 50), the
documents' 31-word vocabulary, 10-99 words per text and 25 of 500 texts
that are an earlier text plus " dup", and the embeddings (500 unit
vectors, isotropic with component stddev 1/8, labels 0-9 independent of
the vectors). Parquet schemas and row-group counts match those tables.
"""
import csv
import datetime as dt
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- covid

STATES = ["arkansas", "new york", "ohio", "texas"]
COUNTY_STEMS = ["bradley", "o'brien", "st. clair", "lake", "union", "clay",
                "monroe", "jackson", "lincoln", "madison"]
CSV_COLUMNS = [
    "REPORT_DATE", "PROVINCE_STATE_NAME", "COUNTY_NAME",
    "PEOPLE_POSITIVE_NEW_CASES_COUNT", "PEOPLE_DEATH_NEW_COUNT",
    "COUNTRY_SHORT_NAME", "COUNTRY_ALPHA_3_CODE", "COUNTRY_ALPHA_2_CODE",
    "CONTINENT_NAME", "COUNTY_FIPS_NUMBER", "PEOPLE_POSITIVE_CASES_COUNT",
    "PEOPLE_DEATH_COUNT", "REPORT_DATE_ISO", "DATA_SOURCE_NAME"]


def initcap(s):
    """Spark's initcap(trim(s)): lower-case, then upper-case the first
    letter of every space-separated word."""
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.strip().split(" "))


def covid_csv(seed, path):
    """Write the CSV to ``path`` and return the expected tallies."""
    counties, days = 50, 10
    rng = np.random.default_rng([seed, 1])
    start = dt.date(2022, 1, 26)
    names = [f"{COUNTY_STEMS[i % len(COUNTY_STEMS)]} {i // len(COUNTY_STEMS)}"
             if i >= len(COUNTY_STEMS) else COUNTY_STEMS[i]
             for i in range(counties)]
    rows = []      # CSV rows, each a list of 14 strings
    valid = []     # (date, state, county, cases, deaths) after transform
    for d in range(days):
        date = (start + dt.timedelta(days=d)).isoformat()
        for s in STATES:
            for c in names:
                cases = int(rng.integers(0, 500))
                deaths = int(rng.integers(0, 20))
                kind = rng.random()
                raw_date, raw_state, raw_county = date, s, c
                raw_cases, raw_deaths = str(cases), str(deaths)
                if kind < 0.02:     # whitespace padding everywhere
                    raw_date, raw_state, raw_county = f" {date} ", f"  {s} ", f" {c}  "
                elif kind < 0.04:   # upper-case input, title-cased on the way out
                    raw_state, raw_county = s.upper(), c.upper()
                elif kind < 0.05:   # missing counts read as 0
                    raw_cases, cases = "", 0
                elif kind < 0.06:
                    raw_deaths, deaths = "", 0
                elif kind < 0.07:   # malformed count: the row is dropped
                    raw_cases = ["abc", "12.5", "n/a"][int(rng.integers(0, 3))]
                    cases = None
                row = [raw_date, raw_state, raw_county, raw_cases, raw_deaths,
                       "US", "USA", "US", "America", str(10000 + len(rows)),
                       str(cases or 0), str(deaths or 0), date, "synthetic"]
                rows.append(row)
                if cases is not None:
                    valid.append((date, initcap(s), initcap(c), cases, deaths))
                if rng.random() < 0.01:   # duplicate report, appended again
                    rows.append(list(row))
                    if cases is not None:
                        valid.append((date, initcap(s), initcap(c), cases, deaths))
    order = rng.permutation(len(rows))
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(CSV_COLUMNS)
    for i in order:
        w.writerow(rows[i])
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(buf.getvalue())
    cases_by_county, deaths_by_state = {}, {}
    for date, s, c, n, k in valid:
        cases_by_county[c] = cases_by_county.get(c, 0) + n
        deaths_by_state[s] = deaths_by_state.get(s, 0) + k
    overview = sorted((d, s, c) for d, s, c, _, _ in valid)[:2000]
    return {
        "csv_rows": len(rows),
        "total_records": len(valid),
        "latest_record": max(v[0] for v in valid),
        "overview_keys": ["|".join(k) for k in overview],
        "cases_per_county": cases_by_county,
        "deaths_per_state": deaths_by_state,
    }


# --------------------------------------------------------------- tables

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]   # en 218/500, the others 64-75 each
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(base, offsets_us):
    epoch = int(dt.datetime(*base).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(epoch + np.asarray(offsets_us, dtype=np.int64), pa.timestamp("us"))


def tables(seed, out_dir):
    """Write the ten tables, sf0.01-sized, to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    n_ev, n_doc, n_vec = 10000, 500, 500
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day_us = 86_400 * 1_000_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us((1995, 1, 1), rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("O", "F")[i % 2] for i in flags],
        "l_shipdate": _ts_us((1995, 1, 2), rng.integers(0, 2499, n_line) * day_us)})
    month_us = 30 * day_us
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us((2024, 1, 1), np.sort(rng.integers(0, month_us, n_ev))),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    dups = set(rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False).tolist())
    texts = []
    for i in range(n_doc):
        if i in dups:   # an earlier text plus " dup"
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # No cluster structure: the sf0.01 vectors have the same mean cosine
    # within a label as across labels (0.002 against 0.0003).
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_vec)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(out)
