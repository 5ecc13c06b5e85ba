#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the
same sfDir parquet tables, sorts columns by name and rows by value,
and diffs. Exit 0 iff every query matches.
"""
import json, sys, glob, os, zlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def deflate_ratio(text: str):
    """Mirror q_llm_compression_ratio's ratio, graft.functions.DeflateCheck's
    n_comp / n_bytes: raw DEFLATE (nowrap) level 6 over the UTF-8 bytes.
    CPython's zlib and the JDK's Deflater both bundle madler zlib, so the
    compressed byte count is identical and the ratio compares exactly —
    an independent-implementation oracle for the one query DuckDB SQL
    can't express."""
    raw = text.encode("utf-8")
    if len(raw) == 0:
        return None
    c = zlib.compressobj(6, zlib.DEFLATED, -15)
    n = len(c.compress(raw)) + len(c.flush())
    return n / len(raw)


def oracle_llm_compression_ratio(con) -> pd.DataFrame:
    docs = con.execute("SELECT doc_id, text FROM documents").df()
    out = pd.DataFrame({
        "doc_id": docs["doc_id"],
        "n_bytes": docs["text"].map(lambda t: len(t.encode("utf-8"))).astype("int32"),
        "deflate_ratio": docs["text"].map(deflate_ratio),
    })
    out["is_low_entropy"] = ((out["deflate_ratio"] < 0.3)
                             & (out["n_bytes"] >= 200)).fillna(False)
    return out


# Verify's "<outDir>-extras/" dumps: values no SQL engine can recompute, each
# exact-compared against an independent Python recompute (same
# normalize + check_exact path as the SQL oracles). The registered
# query of the same family (q_llm_compression) carries the
# driver-gated invariants.
EXTRA_ORACLES = {"q_llm_compression_ratio": oracle_llm_compression_ratio}
# Rows-only queries that get a hard signal from a Python recompute
# instead of DuckDB SQL (exact compare, same normalize path).
PYTHON_ORACLES = {}


def dtype_kind(s: pd.Series) -> str:
    """Coarse dtype class used for the cross-engine type check. The
    driver's hash is type-sensitive, so an int64 Spark column vs a
    DuckDB HUGEINT (which pandas silently converts to float64/object)
    must FAIL here even when the values are numerically equal."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if s.dtype == object:
        # HUGEINT overflows int64 -> duckdb hands back Python ints as
        # object; flag that as "int" so it mismatches a float column
        # and matches nothing Spark can emit (Spark maxes at int64).
        vals = s.dropna()
        if len(vals) > 0 and all(isinstance(v, int) for v in vals.head(50)):
            return "bigobj-int"
        return "object"
    return str(s.dtype)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                          type(v).__name__ == "ndarray" else v)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    dirs = sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)))
    manifest_path = f"{out_dir}/queries.json"
    if os.path.exists(manifest_path):
        names = json.load(open(manifest_path))
    else:  # old Verify output: fall back to dirs (can't see crashes)
        names = dirs
    failures = []
    for missing in sorted(set(names) - set(dirs)):
        failures.append(missing)
        print(f"[FAIL] {missing}: query crashed in Verify (no output dir)")
    names = [n for n in names if n in dirs]
    # extras ride the same loop from the sibling "<outDir>-extras"
    # directory; they are absent from the driver manifest by design
    # (python-oracle-only, invisible to the driver's gate)
    extras_dir = f"{out_dir.rstrip('/')}-extras"
    extra_names = [n for n in sorted(EXTRA_ORACLES)
                   if os.path.isdir(os.path.join(extras_dir, n))]
    for missing in sorted(set(EXTRA_ORACLES) - set(extra_names)):
        failures.append(missing)
        print(f"[FAIL] {missing}: extra dump missing (crashed in Verify?)")
    for name in names + extra_names:
        prefix = extras_dir if name in EXTRA_ORACLES else out_dir
        files = glob.glob(f"{prefix}/{name}/*.parquet")
        if not files:
            failures.append(name); print(f"[FAIL] {name}: no parquet output"); continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name in EXTRA_ORACLES:
            pass  # always python-checked below
        elif name not in oracles and name not in PYTHON_ORACLES:
            print(f"[rows-only] {name}: {len(got)} rows (no oracle)")
            if len(got) == 0:
                failures.append(name)
            continue
        try:
            if name in EXTRA_ORACLES:
                exp = EXTRA_ORACLES[name](con)
            elif name in PYTHON_ORACLES:
                exp = PYTHON_ORACLES[name](con)
            else:
                exp = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name); print(f"[FAIL] {name}: oracle error: {e}"); continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            failures.append(name)
            print(f"[FAIL] {name}: columns {list(g.columns)} vs oracle {list(e.columns)}")
            continue
        kind_bad = [(c, dtype_kind(got[c]), dtype_kind(exp[c]))
                    for c in g.columns if dtype_kind(got[c]) != dtype_kind(exp[c])]
        if kind_bad:
            failures.append(name)
            for c, kg, ke in kind_bad:
                print(f"[FAIL] {name}: dtype mismatch on '{c}': spark={kg} "
                      f"oracle={ke} (uncast HUGEINT sum? wrap in CAST(.. AS BIGINT))")
            continue
        if len(g) != len(e):
            failures.append(name)
            print(f"[FAIL] {name}: {len(g)} rows vs oracle {len(e)}")
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            print(f"[OK]   {name}: {len(g)} rows")
        except AssertionError as ex:
            failures.append(name)
            msg = str(ex).splitlines()
            print(f"[FAIL] {name}: value mismatch: " + " | ".join(msg[:6]))
            neq = (g != e) & ~(g.isna() & e.isna())
            bad = neq.any(axis=1)
            print(g[bad].head(3)); print(e[bad].head(3))
    # extras count toward the total whether they pass or fail; crashed
    # registered queries are already in `failures` but not in `names`
    total = (len(names) + len(set(EXTRA_ORACLES))
             + sum(1 for f in failures if f not in names and f not in EXTRA_ORACLES))
    print(f"\n{total - len(failures)}/{total} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
