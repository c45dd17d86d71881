"""Seeded inputs for the benchmark.

Everything the engine sees is made here from the workload seed: the
parquet tables (same schemas and value domains as the repo's sf fixtures),
the analytic query order, the lake DML statement log and the stream's
arrival files. The same seed always gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def rng_for(seed, stream):
    """Independent generator per input stream, so adding rows to one table
    never shifts the values of another."""
    return np.random.default_rng([seed, stream])


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def tables(seed, sf):
    """The ten fixture tables at scale factor `sf` (rows as in the sf fixtures)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    out = {}
    out["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    out["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    r = rng_for(seed, 1)
    out["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]}
    r = rng_for(seed, 2)
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}
    r = rng_for(seed, 3)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_part) * 0.1, 1)}
    r = rng_for(seed, 4)
    out["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": EPOCH_1995 + r.integers(0, 2405, n_ord) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]}
    r = rng_for(seed, 5)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": EPOCH_1995 + (1 + r.integers(0, 2499, n_line)) * DAY_US}
    out["events"] = events(seed, n_ev)
    out["documents"] = documents(seed, n_doc)
    r = rng_for(seed, 8)
    labels = r.integers(0, 10, n_emb, dtype=np.int32)
    centers = r.normal(size=(10, 64))
    vecs = centers[labels] + 1.5 * r.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels}
    return out


def events(seed, n):
    """Event stream in arrival order: strictly increasing `ts`, so the latest
    row per user is well defined."""
    r = rng_for(seed, 6)
    gaps = r.integers(1, 2 * 30 * DAY_US // max(n, 1), n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + np.cumsum(gaps),
        "user_id": r.integers(0, max(n // 66, 1), n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}


def documents(seed, n):
    """Random word soup plus planted near-duplicates: one doc in twenty
    copies an earlier doc of 40+ words and appends " dup", so shingle
    Jaccard of a planted pair is >= 0.97 while the background stays low."""
    r = rng_for(seed, 7)
    lens = r.integers(10, 101, n)
    words = np.array(WORDS)[r.integers(0, len(WORDS), int(lens.sum()))]
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(words[at:at + ln]))
        at += ln
    for i in range(n):
        if i > 0 and r.random() < 0.05:
            j = int(r.integers(0, i))
            if len(texts[j].split(" ")) >= 40:
                texts[i] = texts[j] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": [f"src{k}" for k in r.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def write_tables(seed, sf, out_dir, names=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed, sf).items():
        if names is None or name in names:
            _write(os.path.join(out_dir, f"{name}.parquet"), cols)


# ---- analytic_read -------------------------------------------------------

def query_passes(seed, names, passes):
    """One seeded permutation of the query set per pass."""
    r = rng_for(seed, 10)
    return [[names[i] for i in r.permutation(len(names))] for _ in range(passes)]


# ---- lake_dml ------------------------------------------------------------

LAKE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"]
# The seed rows of both lake tables, in SQL both engines run unchanged.
SEED_SQL = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            "FROM orders WHERE o_orderkey < {n}")
MATVIEW_SQL = ("SELECT o_orderpriority, count(*) AS cnt, sum(o_totalprice) AS sum_o_totalprice "
               "FROM {t} WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority")

# One round: every statement kind once, on the table shown. The order is
# permuted per round by the seed; the multiset is fixed so a window of
# whole rounds always runs the same mix. Eleven statements put the median
# inside the cluster of narrow and scattered UPDATE/DELETE statements
# (0.7-0.9 s on 4 cores), with the reads below and the MOR UPDATE, the
# MERGEs and the refresh above, so the p50 does not jump between two
# latency clusters from run to run.
ROUND = [
    ("read", "point", "cow"), ("read", "point", "mor"), ("read", "rollup", "mor"),
    ("write", "insert", "mor"),
    ("write", "update_narrow", "cow"), ("write", "update_scattered", "mor"),
    ("write", "delete_scattered", "cow"), ("write", "delete_narrow", "mor"),
    ("write", "merge", "cow"), ("write", "merge", "mor"),
    ("refresh", "refresh", "cow"),
]


def _row_sql(k, r):
    day = EPOCH_1995 + int(r.integers(0, 2405)) * DAY_US
    date = str(day.astype("datetime64[D]"))
    return (f"({k}, {int(r.integers(0, 15000))}, '{'FOP'[int(r.integers(0, 3))]}', "
            f"{round(float(r.uniform(1000, 500000)), 2)}, DATE '{date}', "
            f"'{PRIORITIES[int(r.integers(0, 5))]}')")


def statement_log(seed, n_rows, rounds):
    """Seeded DML stream over tables `cow`, `mor` and matview `mv`.

    Round -1 is the untimed warm-up. Each entry is {"round", "cls", "kind",
    "table", "sql"}; a MERGE also carries "keys" and "rows", so a replay
    without MERGE can apply it as DELETE of the source keys and INSERT of
    the source rows. Table names appear as {cow} / {mor} / {mv}
    placeholders for the engine to fill in.
    """
    r = rng_for(seed, 20)
    next_key = n_rows
    log = []
    for rd in range(-1, rounds):
        for i in r.permutation(len(ROUND)):
            cls, kind, table = ROUND[i]
            t = "{" + table + "}"
            e = {"round": rd, "cls": cls, "kind": kind, "table": table}
            if kind == "point":
                e["sql"] = f"SELECT * FROM {t} WHERE o_orderkey = {int(r.integers(0, n_rows))}"
            elif kind == "rollup":
                lo = EPOCH_1995 + int(r.integers(0, 2000)) * DAY_US
                a = str(lo.astype("datetime64[D]"))
                b = str((lo + 365 * DAY_US).astype("datetime64[D]"))
                e["sql"] = (f"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s "
                            f"FROM {t} WHERE o_orderdate >= DATE '{a}' AND o_orderdate < DATE '{b}' "
                            f"GROUP BY o_orderpriority")
            elif kind == "insert":
                e["sql"] = f"INSERT INTO {t} VALUES {_row_sql(next_key, r)}"
                next_key += 1
            elif kind == "update_narrow":
                lo = int(r.integers(0, n_rows - 50))
                e["sql"] = (f"UPDATE {t} SET o_totalprice = o_totalprice + 1.25 "
                            f"WHERE o_orderkey BETWEEN {lo} AND {lo + 40}")
            elif kind == "update_scattered":
                e["sql"] = (f"UPDATE {t} SET o_orderstatus = 'F' "
                            f"WHERE o_orderkey % 199 = {int(r.integers(0, 199))}")
            elif kind == "delete_narrow":
                lo = int(r.integers(0, n_rows - 50))
                e["sql"] = f"DELETE FROM {t} WHERE o_orderkey BETWEEN {lo} AND {lo + 20}"
            elif kind == "delete_scattered":
                e["sql"] = (f"DELETE FROM {t} WHERE o_custkey % 997 = "
                            f"{int(r.integers(0, 997))}")
            elif kind == "merge":
                old = sorted(set(int(k) for k in r.integers(0, n_rows, 12)))
                new = list(range(next_key, next_key + 8))
                next_key += 8
                keys = old + new
                rows = [_row_sql(k, r) for k in keys]
                e["keys"], e["rows"] = keys, rows
                e["sql"] = (f"MERGE INTO {t} AS t USING (SELECT * FROM VALUES "
                            f"{', '.join(rows)} AS s({', '.join(LAKE_COLS)})) AS s "
                            f"ON t.o_orderkey = s.o_orderkey "
                            f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            elif kind == "refresh":
                e["sql"] = "REFRESH MATERIALIZED VIEW {mv}"
            log.append(e)
    return log


# ---- lake_stream ---------------------------------------------------------

def stream_files(seed, n_events, n_files, out_dir):
    """Split the seeded event stream into `n_files` consecutive parquet
    files of equal size (file i holds the i-th slice of arrival order)."""
    os.makedirs(out_dir, exist_ok=True)
    ev = pa.table(events(seed, n_events))
    per = n_events // n_files
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"batch-{i:05d}.parquet")
        pq.write_table(ev.slice(i * per, per), p)
        paths.append(p)
    return paths
