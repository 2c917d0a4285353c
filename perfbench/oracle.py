"""DuckDB comparison of registry outputs by the repository's own oracle
gate, tools/check_oracle.py: its non-scalar column rejection, value-kind
map and row normalisation (columns sorted by name, rows by value, floats
by exact bit pattern). Only the table views and the per-query loop are
here."""
import json
import os
import sys
import threading
import time

import duckdb


def gate(root):
    """The check_oracle module of the checkout at root."""
    tools = os.path.join(root, "tools")
    if not os.path.exists(os.path.join(tools, "check_oracle.py")):
        raise FileNotFoundError(f"no oracle gate at {tools}/check_oracle.py")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle
    return check_oracle


def compare(oracle_dir, root, limit_s=60):
    """[(query, ok, detail, spark_rows, oracle_s)] for every query written under
    oracle_dir, whose oracle.json names the tables and the SQL. An
    oracle query still running after limit_s seconds is interrupted and
    fails its check."""
    co = gate(root)
    spec = json.load(open(os.path.join(oracle_dir, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in spec["names"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['tables']}/{t}.parquet/*.parquet')")
    out = []
    for name, sql in sorted(spec["sql"].items()):
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        t0 = time.monotonic()
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{oracle_dir}/{name}/*.parquet')").df()
            want = con.execute(sql).df()
        except Exception as e:  # a failing or interrupted query is a failed check
            out.append((name, False, f"error: {e}", 0, time.monotonic() - t0))
            continue
        finally:
            timer.cancel()
        oracle_s = time.monotonic() - t0
        g_cols, g_rows = list(got.columns), list(got.itertuples(index=False, name=None))
        w_cols, w_rows = list(want.columns), list(want.itertuples(index=False, name=None))
        bad = sorted(set(co.nonscalar_cols(g_cols, g_rows) + co.nonscalar_cols(w_cols, w_rows)))
        gc, gr = co.norm_rows(g_cols, g_rows)
        wc, wr = co.norm_rows(w_cols, w_rows)
        gk, wk = co.dtype_map(got), co.dtype_map(want)
        if bad:
            detail = f"non-scalar columns {bad}"
        elif gc != wc:
            detail = f"columns {gc} != {wc}"
        elif any(gk.get(c) != wk.get(c) for c in gc):
            detail = f"value kinds {gk} != {wk}"
        elif gr != wr:
            detail = f"{len(gr)} rows differ from the oracle's {len(wr)}"
        elif not gr:
            detail = "empty output"
        else:
            detail = ""
        out.append((name, detail == "", detail or f"{len(gr)} rows match", len(gr), oracle_s))
    con.close()
    return out
