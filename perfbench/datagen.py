"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine's queries read (`region nation
customer supplier part orders lineitem events documents embeddings`),
with the schemas and value distributions of the engine's test data, at
scale factor `sf` (sf=0.01: 60k lineitem rows, 10k events). The same
(seed, sf) always gives byte-identical tables.

It also writes `wide.parquet`, the gas-quality batch the serving
workloads ingest: one wide row per event, `site = SITE_<user_id % 40>`,
`ts` at whole seconds (unique per table, so every observation key is
distinct) and three metric columns derived from `value`, derived from
`events.parquet` by `WIDE_SQL`; the after-setup warehouse check replays
the same derivation.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = 40
EPOCH_2024_S = 1704067200  # 2024-01-01T00:00:00Z
EVENT_DAYS = 30

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = ("small red blue hot cold new old large").split()
NOUN = ("ring widget bolt gear rod plate anvil nut").split()

# The wide batch as DuckDB derives it from `events`; the harness builds the
# identical frame from the same file for the program (see wide.parquet).
WIDE_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       'SITE_' || lpad(CAST(user_id % {SITES} AS VARCHAR), 2, '0') AS site,
       CAST(user_id % {SITES} AS VARCHAR) AS siteId,
       round(48 + value / 50, 2) AS WOBBE,
       round(38 + value / 100, 3) AS CV,
       round(0.55 + value / 5000, 4) AS SG
FROM events
"""


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, first, last):
    """n random midnight timestamps (microseconds) in [first, last]."""
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, n):
    users = max(10, int(round(n * 0.015)))
    secs = np.sort(rng.choice(EVENT_DAYS * 86400, n, replace=False))
    micros = (EPOCH_2024_S + secs) * 1_000_000 + rng.integers(0, 1_000_000, n)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(micros, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    langs = rng.choice(["en", "de", "fr", "es", "zh"], n,
                       p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    v = centers[label] * 0.35 + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def generate(out_dir, seed, sf, tables):
    """Write `tables` (names from the engine's table list, plus "wide") for
    `seed` at scale factor `sf` into `out_dir`; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table: a table's content does not depend
    # on which other tables were asked for
    streams = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"))}
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    rows = {}

    def put(name, cols):
        _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))

    want = set(tables)
    if "region" in want:
        put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                       "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                           "MIDDLE EAST"])})
    if "nation" in want:
        k = np.arange(25, dtype=np.int32)
        put("nation", {"n_nationkey": pa.array(k),
                       "n_name": pa.array([f"NATION_{i}" for i in k]),
                       "n_regionkey": pa.array(k % 5)})
    if "customer" in want:
        r = streams["customer"]
        put("customer", {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust))})
    if "supplier" in want:
        r = streams["supplier"]
        put("supplier", {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, n_supp, -999.99, 9999.99))})
    if "part" in want:
        r = streams["part"]
        k = np.arange(n_part, dtype=np.int64)
        put("part", {
            "p_partkey": pa.array(k),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                r.choice(ADJ, n_part), r.choice(NOUN, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(r.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (k % 1000) * 0.1, 1))})
    if "orders" in want:
        r = streams["orders"]
        put("orders", {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(r, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord))})
    if "lineitem" in want:
        r = streams["lineitem"]
        n = 4 * n_ord
        put("lineitem", {
            "l_orderkey": pa.array(r.integers(0, n_ord, n, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, n, 900.0, 105000.0)),
            "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(r.choice(["F", "O"], n)),
            "l_shipdate": _days(r, n, "1995-01-02", "2001-11-04")})
    if "events" in want or "wide" in want:
        put("events", events(streams["events"], max(100, int(1_000_000 * sf))))
    if "documents" in want:
        put("documents", documents(streams["documents"], max(50, int(50_000 * sf))))
    if "embeddings" in want:
        put("embeddings", embeddings(streams["embeddings"], max(50, int(50_000 * sf))))
    if "wide" in want:
        import duckdb
        con = duckdb.connect()
        path = os.path.join(out_dir, "events.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        wide = con.execute(WIDE_SQL + " ORDER BY ts").arrow()
        pq.write_table(wide, os.path.join(out_dir, "wide.parquet"))
        rows["wide"] = wide.num_rows
        con.close()
    return rows
