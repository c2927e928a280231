"""Seeded input generators for the benchmark.

`write_catalog` writes the ten catalog tables (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) with the same schemas and value
shapes as the project's testdata, scaled by `sf`. `export_rows` makes the
rows of the JDBC export table. The same (sf, seed) always gives the same
bytes of data: every random draw comes from one numpy Generator per
table, seeded from the run seed and the table name.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def rng_for(seed, name):
    """One independent, reproducible stream per (seed, table)."""
    h = hashlib.sha256(f"{seed}/{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _days(rng, n, start, end):
    """n midnight timestamps (ms) uniform over [start, end]."""
    span = (end - start).days
    base = int(dt.datetime(start.year, start.month, start.day,
                           tzinfo=dt.timezone.utc).timestamp() * 1000)
    return base + rng.integers(0, span + 1, n) * 86_400_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(sf, seed, names=TABLES):
    """Build the named catalog tables as pyarrow Tables (name -> table)."""
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_evt = max(1, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))
    ms = pa.timestamp("ms")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    r = rng_for(seed, "nation")
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    r = rng_for(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -1000, 10000),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = rng_for(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -1000, 10000)})
    r = rng_for(seed, "part")
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[r.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    r = rng_for(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000, 500000),
        "o_orderdate": pa.array(_days(r, n_ord, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), ms),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = rng_for(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900, 105000),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(r, n_line, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), ms)})
    r = rng_for(seed, "events")
    # strictly increasing microsecond timestamps across 30 days
    start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    gaps = r.exponential(1.0, n_evt)
    ts = start_us + np.floor(np.cumsum(gaps) / gaps.sum() * 30 * 86_400e6 * 0.9999).astype(np.int64)
    ts = ts + np.arange(n_evt)  # ties would make event order ambiguous
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)],
        "value": np.round(r.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})
    t["documents"] = _documents(rng_for(seed, "documents"), n_docs)
    r = rng_for(seed, "embeddings")
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})
    return {k: v for k, v in t.items() if k in names}


def _documents(r, n):
    """Word-soup documents; 5% are an earlier document plus ' dup'."""
    texts = []
    lens = r.integers(10, 101, n)
    words = np.array(WORDS)
    for i in range(n):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(WORDS), lens[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def write_tables(out_dir, sf, seed, names=TABLES):
    """Write catalog tables as `<out_dir>/<table>.parquet`; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in catalog_tables(sf, seed, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# --- export table ---------------------------------------------------------
# One column per branch of the type map, in Derby DDL. Every nullable
# column gets seeded NULLs; `id` is the non-null partition column.
EXPORT_COLUMNS = [
    ("ID", "BIGINT NOT NULL"),
    ("C_INT", "INT"),
    ("C_SMALL", "SMALLINT"),
    ("C_DEC", "DECIMAL(12,2)"),
    ("C_DBL", "DOUBLE"),
    ("C_DATE", "DATE"),
    ("C_TS", "TIMESTAMP"),
    ("C_STR", "VARCHAR(64)"),
]
NULL_FRAC = 0.05


def export_rows(n, seed):
    """Column lists for the export table. NULLs appear as None.

    Values are chosen so that their text forms are the same in Derby,
    Spark and Python: doubles are k/8 below 1e7 (exact in binary, never
    printed in exponent form), timestamps have whole seconds, strings
    are ASCII without separators.
    """
    r = rng_for(seed, "export")
    days = np.datetime64("1990-01-01") + r.integers(0, 15000, n).astype("timedelta64[D]")
    secs = np.datetime64("2000-01-01T00:00:00") + r.integers(0, 800_000_000, n).astype("timedelta64[s]")
    letters = np.frombuffer(b"abcdefghij", dtype="S1")[r.integers(0, 10, n * 40)].tobytes().decode()
    lens = r.integers(0, 40, n)
    cols = {
        "ID": list(range(n)),
        "C_INT": r.integers(-2**31, 2**31 - 1, n).tolist(),
        "C_SMALL": r.integers(-2**15, 2**15 - 1, n).tolist(),
        "C_DEC": [f"{v / 100:.2f}" for v in r.integers(-10**11, 10**11, n).tolist()],
        "C_DBL": (r.integers(-2**26, 2**26, n) / 8.0).tolist(),
        "C_DATE": np.datetime_as_string(days).tolist(),
        "C_TS": np.char.replace(np.datetime_as_string(secs), "T", " ").tolist(),
        "C_STR": ["s" + letters[i * 40:i * 40 + k] for i, k in enumerate(lens.tolist())],
    }
    for name, _ in EXPORT_COLUMNS[1:]:
        mask = r.random(n) < NULL_FRAC
        cols[name] = [None if m else v for v, m in zip(cols[name], mask)]
    return cols


def write_export_csv(path, cols):
    """Derby SYSCS_IMPORT_TABLE input: NULL is an empty unquoted field."""
    names = [c for c, _ in EXPORT_COLUMNS]
    with open(path, "w") as f:
        for row in zip(*(cols[c] for c in names)):
            f.write(",".join("" if v is None else str(v) for v in row) + "\n")


def export_expected(cols, compat):
    """The generator's own record of the export table, as the Parquet
    output should read back: typed (real types, real NULLs) or, in
    compat mode, every value as its string form with NULL written as ""
    (the reference tool's output semantics)."""
    import decimal
    if compat:
        def s(v):
            return "" if v is None else str(v)
        return pa.table({c: pa.array([s(v) for v in cols[c]], pa.string())
                         for c, _ in EXPORT_COLUMNS})
    day0 = dt.date(1970, 1, 1)
    epoch = dt.datetime(1970, 1, 1)
    conv = {
        "ID": (pa.int64(), lambda v: v),
        "C_INT": (pa.int32(), lambda v: v),
        "C_SMALL": (pa.int16(), lambda v: v),
        "C_DEC": (pa.decimal128(12, 2), decimal.Decimal),
        "C_DBL": (pa.float64(), lambda v: v),
        "C_DATE": (pa.date32(), lambda v: (dt.date.fromisoformat(v) - day0).days),
        "C_TS": (pa.timestamp("us"),
                 lambda v: (dt.datetime.fromisoformat(v) - epoch) // dt.timedelta(microseconds=1)),
        "C_STR": (pa.string(), lambda v: v),
    }
    out = {}
    for c, _ in EXPORT_COLUMNS:
        typ, f = conv[c]
        vals = [None if v is None else f(v) for v in cols[c]]
        out[c] = pa.array(vals, pa.int32() if typ == pa.date32() else
                          pa.int64() if pa.types.is_timestamp(typ) else typ)
        if typ == pa.date32() or pa.types.is_timestamp(typ):
            out[c] = out[c].cast(typ)
    return pa.table(out)
