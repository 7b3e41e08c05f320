"""DuckDB oracle check of the analytic-mix rows: each row's Spark output
(parquet) against its oracle SQL over the same generated tables. Compares
sorted column names, column types (integer widths folded together), row
count and every row value in order, exactly."""
import glob

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
        "UINTEGER", "UBIGINT"}


def _norm(t):
    return "INT" if t in INTS else t


def check(tables_dir, out_dir, oracle_sql):
    """Returns {row name: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        out[name] = _one(con, name, sql, out_dir)
    con.close()
    return out


def _one(con, name, sql, out_dir):
    if sql is None:
        return "no oracle SQL"
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return "no spark output"
    try:
        got_rel = con.sql(f"SELECT * FROM '{files[0]}'")
        got_cols, got_types = list(got_rel.columns), [_norm(str(t)) for t in got_rel.types]
        got = got_rel.fetchall()
        exp_rel = con.sql(sql)
        exp_cols, exp_types = list(exp_rel.columns), [_norm(str(t)) for t in exp_rel.types]
        exp = exp_rel.fetchall()
    except Exception as e:  # noqa: BLE001 - any oracle error is a failed row
        return f"error: {e}"
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    gt, et = dict(zip(got_cols, got_types)), dict(zip(exp_cols, exp_types))
    bad = [c for c in sorted(got_cols) if gt[c] != et[c]]
    if bad:
        return "types differ: " + ", ".join(f"{c} {gt[c]}!={et[c]}" for c in bad)
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    for r, (g, e) in enumerate(zip(got, exp)):
        gv, ev = tuple(g[i] for i in gi), tuple(e[i] for i in ei)
        if gv != ev:
            return f"row {r}: got {gv} expected {ev}"
    return None
