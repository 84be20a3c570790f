"""Output gate: compares each query's Spark output with its DuckDB oracle.

Reuses the normalisation and hashing of scripts/check_oracle.py (loaded from
the checkout, unedited) on the same generated inputs.
"""
import glob
import importlib.util
import json
import os

import duckdb

TABLES = ("events", "documents", "embeddings")


def load_check_oracle(repo):
    path = os.path.join(repo, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _lines(co, rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(co.norm(r[i]) for i in order) for r in rows)


def first_diffs(co, s_rows, s_cols, o_rows, o_cols, limit=3):
    """The first differing normalised rows, spark vs oracle."""
    a, b = _lines(co, s_rows, s_cols), _lines(co, o_rows, o_cols)
    out = []
    for x, y in zip(a, b):
        if x != y:
            out.append({"spark": x[:200], "oracle": y[:200]})
            if len(out) >= limit:
                break
    return out


def check(repo, out_dir, data_dir, queries):
    """Returns {query: {"ok": bool, "rows": n, "why": str, "diffs": [...]}}."""
    co = load_check_oracle(repo)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    res = {}
    for q in queries:
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if q not in oracles:
            res[q] = {"ok": False, "why": "no oracle"}
            continue
        if not files:
            res[q] = {"ok": False, "why": "no spark output"}
            continue
        try:
            cur = con.execute(oracles[q])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001 - reported as a failure
            res[q] = {"ok": False, "why": f"oracle error: {e}"[:300]}
            continue
        cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
        s_cols = [d[0] for d in cur.description]
        s_rows = cur.fetchall()
        r = {"ok": False, "rows": len(o_rows)}
        if sorted(s_cols) != sorted(o_cols):
            r["why"] = f"schema {sorted(s_cols)} vs oracle {sorted(o_cols)}"
        elif len(s_rows) != len(o_rows):
            r["why"] = f"rows {len(s_rows)} vs oracle {len(o_rows)}"
            r["diffs"] = first_diffs(co, s_rows, s_cols, o_rows, o_cols)
        elif co.table_hash(s_rows, s_cols) != co.table_hash(o_rows, o_cols):
            r["why"] = "hash mismatch"
            r["diffs"] = first_diffs(co, s_rows, s_cols, o_rows, o_cols)
        else:
            r["ok"] = True
        res[q] = r
    return res
