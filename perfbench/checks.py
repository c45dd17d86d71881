"""Output checks, run after the timed window: the engine's answers against
DuckDB over the same generated inputs. Each check returns a list of
failure strings (empty when it passes)."""
import os

import duckdb
import numpy as np

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _connect(inputs):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _frame(con, result_dir):
    return con.execute(f"SELECT * FROM '{result_dir}/*.parquet'").df()


def analytic(inputs, out, names, oracle):
    """Rows, schema (sorted column names) and values as strings, row by row,
    against each query's oracle SQL; queries without one must return rows."""
    con = _connect(inputs)
    fails = []
    for name in names:
        d = os.path.join(out, "result", name)
        try:
            got = _frame(con, d)
            if name not in oracle:
                if len(got) == 0:
                    fails.append(f"{name}: no rows")
                continue
            exp = con.execute(oracle[name]).df()
            exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
            if list(exp.columns) != list(got.columns):
                fails.append(f"{name}: schema {list(got.columns)} != {list(exp.columns)}")
            elif len(exp) != len(got):
                fails.append(f"{name}: {len(got)} rows != {len(exp)}")
            elif exp.astype(str).values.tolist() != got.astype(str).values.tolist():
                fails.append(f"{name}: values differ")
        except Exception as e:  # a missing result is a failed check, not a crash
            fails.append(f"{name}: {str(e)[:200]}")
    return fails


def _same(name, got, exp, key):
    """Order-free table equality: exact on everything but floats, which
    may differ in the last bits when a sum runs in another order."""
    got = got[sorted(got.columns)].sort_values(key).reset_index(drop=True)
    exp = exp[sorted(exp.columns)].sort_values(key).reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return [f"{name}: schema {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{name}: {len(got)} rows != {len(exp)}"]
    for c in got.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            ok = np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-6)
        else:
            ok = [str(x) for x in a] == [str(x) for x in b]
        if not ok:
            return [f"{name}: column {c} differs"]
    return []


def lake_dml(inputs, out, log, rounds, n_rows):
    """Replays the executed statement log in DuckDB (MERGE as DELETE of the
    source keys plus INSERT of the source rows) and compares both tables
    and the matview."""
    con = _connect(inputs)
    for t in ("cow", "mor"):
        con.execute(f"CREATE TABLE {t} AS {gen.SEED_SQL.format(n=n_rows)}")
    for e in log:
        if e["round"] >= rounds or e["cls"] != "write":
            continue
        t = e["table"]
        if e["kind"] == "merge":
            con.execute(f"DELETE FROM {t} WHERE o_orderkey IN ({', '.join(map(str, e['keys']))})")
            con.execute(f"INSERT INTO {t} VALUES {', '.join(e['rows'])}")
        else:
            con.execute(e["sql"].replace("{" + t + "}", t))
    fails = []
    for t in ("cow", "mor"):
        fails += _same(t, _frame(con, os.path.join(out, "result", t)),
                       con.execute(f"SELECT * FROM {t}").df(), "o_orderkey")
    exp = con.execute(gen.MATVIEW_SQL.format(t="cow")).df()
    got = _frame(con, os.path.join(out, "result", "mv"))
    fails += _same("mv", got[[c for c in got.columns if c in exp.columns]], exp, "o_orderpriority")
    return fails


def lake_stream(out, files):
    """Fact table = union of the landed files; state table = latest row per
    user over them."""
    con = duckdb.connect()
    src = ", ".join(f"'{f}'" for f in files)
    con.execute(f"CREATE VIEW landed AS SELECT event_id, epoch_us(ts) * 1000 AS ts, user_id, "
                f"event_type, value, props, CAST(user_id % 8 AS VARCHAR) AS ub "
                f"FROM read_parquet([{src}])")
    fact = _frame(con, os.path.join(out, "result", "fact"))
    fails = []
    if fact["event_id"].duplicated().any():
        fails.append("fact: duplicated events")
    fails += _same("fact", fact, con.execute("SELECT * FROM landed").df(), "event_id")
    fails += _same("state", _frame(con, os.path.join(out, "result", "state")),
                   con.execute("SELECT * EXCLUDE (r) FROM (SELECT *, row_number() OVER "
                               "(PARTITION BY user_id ORDER BY ts DESC) AS r FROM landed) "
                               "WHERE r = 1").df(), "user_id")
    return fails
