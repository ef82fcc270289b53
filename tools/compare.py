#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <verify_out_dir> <sf_dir>
       python3 tools/compare.py --bitwise <dumpA> <dumpB> [row ...]

Reads <verify_out_dir>/<name>/ parquet (written by graft.Verify) and
<verify_out_dir>/oracle_sql.json, runs each oracle SQL in DuckDB with the
sf tables registered as views, and compares: row count, column names,
and a hash over values with columns sorted by name and rows sorted by all
columns (the driver's documented compare sorts columns by name).

--bitwise compares the named rows (default: every row of either dump) of
two graft.Verify dumps with each other, not with an oracle: the same
columns (names and types, in order), and the same multiset of rows, with
floating-point values equal by their IEEE bits (so -0.0 != 0.0, and NaNs
match only with the same payload). It prints one line per row and exits 1
on any difference.
"""
import sys, os, json, glob, struct
from collections import Counter
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def bits_key(v):
    """A hashable form of one cell in which floats are their IEEE bits."""
    if isinstance(v, float):
        return ("f", struct.unpack("<q", struct.pack("<d", v))[0])
    if isinstance(v, list):
        return ("l", tuple(bits_key(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple((k, bits_key(x)) for k, x in v.items()))
    if isinstance(v, tuple):
        return ("t", tuple(bits_key(x) for x in v))
    return ("v", v)

def read_dump_row(dump, name):
    """One row's parquet files of a graft.Verify dump as a pyarrow table,
    or None when the dump has no such row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(dump, name)
    if not os.path.isdir(d):
        return None
    files = sorted(glob.glob(f"{d}/*.parquet"))
    tables = [pq.read_table(f) for f in files]
    if not tables:
        return pa.table({})
    return pa.concat_tables(tables, promote_options="none")

def bitwise(dump_a, dump_b, rows):
    if not rows:
        rows = sorted({n for d in (dump_a, dump_b) for n in os.listdir(d)
                       if os.path.isdir(os.path.join(d, n))})
    bad = 0
    for name in rows:
        a, b = read_dump_row(dump_a, name), read_dump_row(dump_b, name)
        if a is None or b is None:
            status = f"missing from {dump_a if a is None else dump_b}"
        else:
            cols_a = [(f.name, str(f.type)) for f in a.schema]
            cols_b = [(f.name, str(f.type)) for f in b.schema]
            if cols_a != cols_b:
                status = f"columns differ: {cols_a} vs {cols_b}"
            else:
                ka = Counter(tuple(bits_key(r[c]) for c, _ in cols_a) for r in a.to_pylist())
                kb = Counter(tuple(bits_key(r[c]) for c, _ in cols_b) for r in b.to_pylist())
                if ka == kb:
                    status = None
                else:
                    only_a, only_b = ka - kb, kb - ka
                    status = (f"rows differ: {sum(only_a.values())} only in A, "
                              f"{sum(only_b.values())} only in B (of {a.num_rows} and {b.num_rows})")
        if status is None:
            print(f"SAME {name}: {a.num_rows} rows")
        else:
            bad += 1
            print(f"DIFF {name}: {status}")
    print(f"\n{len(rows) - bad}/{len(rows)} bit-identical")
    return 1 if bad else 0

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df) > 0:
        # sort by the normalized string form: plain sort_values dies on
        # unhashable cells (list/array columns) and this also makes the row
        # order consistent with exactly what gets hashed
        key = df.apply(lambda r: "|".join(norm_cell(v) for v in r), axis=1)
        df = df.loc[key.sort_values(kind="mergesort").index].reset_index(drop=True)
    return df

def norm_cell(v):
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if np.isnan(f):
            return "NaN"
        # round to 9 significant-ish decimals to absorb last-ulp engine noise
        return f"{f:.9g}"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)

def table_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for _, row in df.iterrows():
        h.update("|".join(norm_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()

def rdp_reference(con) -> pd.DataFrame:
    """Independent Ramer-Douglas-Peucker twin for the ts_rdp query, which has
    no SQL-expressible oracle (recursive geometry). Classic formulation:
    keep endpoints; find the point of max perpendicular distance to the
    chord; if it exceeds epsilon, keep it and split. Auto epsilon is the
    reference's (n/30)*2 with n the per-series point count after NaN drop
    (reference visual behavior: rdp(points, epsilon=(len/30)*2)). Ties on
    the max distance break to the first (lowest-index) point; degenerate
    chords (identical endpoints) fall back to point distance.
    """
    pts = con.execute(
        "SELECT 'shyft://events/u' || user_id || '/' || event_type AS series_id, "
        "epoch_ns(ts) AS ts, value FROM events "
        "WHERE value IS NOT NULL AND NOT isnan(value) "
        "ORDER BY series_id, ts").fetchdf()

    def simplify(ts, vs):
        n = len(ts)
        if n <= 2:
            return list(range(n))
        eps = (n / 30.0) * 2.0
        keep = [False] * n
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            lo, hi = stack.pop()
            if hi <= lo + 1:
                continue
            x1, y1, x2, y2 = float(ts[lo]), vs[lo], float(ts[hi]), vs[hi]
            dx, dy = x2 - x1, y2 - y1
            norm = (dx * dx + dy * dy) ** 0.5
            best, best_i = -1.0, -1
            for i in range(lo + 1, hi):
                if norm == 0.0:
                    ex, ey = float(ts[i]) - x1, vs[i] - y1
                    d = (ex * ex + ey * ey) ** 0.5
                else:
                    d = abs(dy * float(ts[i]) - dx * vs[i] + x2 * y1 - y2 * x1) / norm
                if d > best:
                    best, best_i = d, i
            if best > eps:
                keep[best_i] = True
                stack.append((lo, best_i))
                stack.append((best_i, hi))
        return [i for i in range(n) if keep[i]]

    out = []
    for sid, g in pts.groupby("series_id", sort=False):
        ts = g["ts"].to_numpy()
        vs = g["value"].to_numpy()
        for i in simplify(ts, vs):
            out.append((sid, int(ts[i]), float(vs[i])))
    return pd.DataFrame(out, columns=["series_id", "ts", "value"])

# Independent Python reference implementations (computed from the raw
# tables, no SQL). When a query ALSO has a SQL oracle, both run: the SQL
# twin could share a bug with the engine formulation, so the Python check
# must not be shadowed by it. Compared with the same canon+hash gate.
PY_ORACLES = {"ts_rdp": rdp_reference}

def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracles and name not in PY_ORACLES:
            results[name] = {"rows": len(got), "oracle": False, "ok": len(got) > 0}
            continue
        try:
            if name in oracles:
                exp = con.execute(oracles[name]).fetchdf()
            else:
                exp = PY_ORACLES[name](con)
        except Exception as e:
            results[name] = {"ok": False, "error": f"oracle failed: {e}"}
            continue
        g, e = canon(got), canon(exp)
        # the independent Python reference runs IN ADDITION to a SQL oracle
        py_ref_match = None
        py_ref_error = None
        if name in oracles and name in PY_ORACLES:
            try:
                ref = canon(PY_ORACLES[name](con))
                py_ref_match = (list(g.columns) == list(ref.columns)
                                and len(g) == len(ref)
                                and table_hash(g) == table_hash(ref))
            except Exception as ex:
                py_ref_match = False
                py_ref_error = f"python reference failed: {ex}"
        cols_match = list(g.columns) == list(e.columns)
        rows_match = len(g) == len(e)
        hash_match = cols_match and rows_match and table_hash(g) == table_hash(e)
        # The 9-sig-digit float normalization can mask a genuine TYPE gap:
        # round 4's sim_srp_near_dups oracle returned HUGEINT -> pandas
        # float64, printing "63" for 63.0 locally while the stricter driver
        # hashed "63.0" != "63". Require identical pandas dtypes so a width
        # or int/float gap fails HERE, not only on the driver.
        dtype_match = cols_match and all(
            str(g[c].dtype) == str(e[c].dtype) for c in g.columns)
        results[name] = {"rows": len(g), "exp_rows": len(e),
                         "cols_match": cols_match, "rows_match": rows_match,
                         "hash_match": hash_match, "dtype_match": dtype_match,
                         "ok": hash_match and dtype_match
                               and py_ref_match is not False}
        if not dtype_match and cols_match:
            results[name]["dtypes"] = {
                c: [str(g[c].dtype), str(e[c].dtype)]
                for c in g.columns if str(g[c].dtype) != str(e[c].dtype)}
        if py_ref_match is not None:
            results[name]["py_ref_match"] = py_ref_match
        if py_ref_error is not None:
            results[name]["py_ref_error"] = py_ref_error
        if not hash_match and cols_match and rows_match:
            # show first few diffs
            diffs = []
            for i in range(min(len(g), len(e))):
                rg = [norm_cell(v) for v in g.iloc[i]]
                re_ = [norm_cell(v) for v in e.iloc[i]]
                if rg != re_:
                    diffs.append((i, rg, re_))
                    if len(diffs) >= 3:
                        break
            results[name]["diffs"] = diffs
        elif not cols_match:
            results[name]["got_cols"] = list(g.columns)
            results[name]["exp_cols"] = list(e.columns)
    ok = sum(1 for r in results.values() if r.get("ok"))
    for name, r in results.items():
        status = "OK " if r.get("ok") else "FAIL"
        print(f"{status} {name}: {json.dumps(r, default=str)[:400]}")
    print(f"\n{ok}/{len(results)} ok")
    with open(os.path.join(out_dir, "compare_results.json"), "w") as f:
        json.dump(results, f, indent=2, default=str)
    return 0 if ok == len(results) else 1

if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--bitwise":
        sys.exit(bitwise(sys.argv[2], sys.argv[3], sys.argv[4:]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
