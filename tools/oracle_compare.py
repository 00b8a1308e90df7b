#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare graft.Verify
parquet dumps against DuckDB running SparkEntry.oracleSql on the same
tables. Usage: oracle_compare.py <verify_out_dir> <sf_dir>"""
import atexit, duckdb, json, glob, os, shutil, sys, tempfile
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect():
    """DuckDB capped at half of RAM and one thread per core, spilling to a
    private temp dir removed at exit. Uncapped, the q259 oracle at sf0.1
    took this process to 12.2 GB RSS on a 15 GB box."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    tmp = tempfile.mkdtemp(prefix="duckdb_oracle_")
    atexit.register(shutil.rmtree, tmp, True)
    return duckdb.connect(config={"memory_limit": f"{ram // 2 >> 20}MB",
                                  "threads": os.cpu_count(),
                                  "temp_directory": tmp})


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main(out, sf):
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    fails = []
    for name in sorted(os.listdir(out)):
        if name == "oracle_sql.json":
            continue
        files = glob.glob(f"{out}/{name}/*.parquet")
        sdf = (pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
               if files else pd.DataFrame())
        if name not in oracle:
            print(f"{name:24s} rows={len(sdf):6d}  (no oracle)")
            continue
        try:
            odf = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            fails.append(name)
            print(f"{name:24s} ORACLE SQL ERROR: {e}")
            continue
        s, o = canon(sdf), canon(odf)
        schema_ok = list(s.columns) == list(o.columns)
        rows_ok = len(s) == len(o)
        try:
            hash_ok = s.astype(str).equals(o.astype(str))
        except Exception:
            hash_ok = False
        if schema_ok and rows_ok and hash_ok:
            print(f"{name:24s} OK rows={len(s)}")
        else:
            fails.append(name)
            print(f"{name:24s} MISMATCH schema={schema_ok} "
                  f"rows={rows_ok} ({len(s)} vs {len(o)}) hash={hash_ok}")
    print("\nFAILS:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
