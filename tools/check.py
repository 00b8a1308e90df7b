#!/usr/bin/env python3
"""Local dev harness mimicking the driver's correctness gate: run
graft.Verify via sbt, then compare each query's parquet dump against the
DuckDB oracle SQL on the same test tables. Dev-only (driver-side python)."""
import json, math, sys, glob, os
from oracle_compare import connect

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"): return v.isoformat()
    return v

n_pass = n_fail = 0
for name in sorted(oracle):
    qdir = f"{out_dir}/{name}"
    if not os.path.isdir(qdir):
        print(f"FAIL {name}: no spark output"); n_fail += 1; continue
    try:
        mine = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
        theirs = con.sql(oracle[name])
    except Exception as e:
        print(f"FAIL {name}: {e}"); n_fail += 1; continue
    mc, tc = sorted(mine.columns), sorted(theirs.columns)
    if [c.lower() for c in mc] != [c.lower() for c in tc]:
        print(f"FAIL {name}: columns {mc} vs {tc}"); n_fail += 1; continue
    mrows = [tuple(canon(v) for v in r) for r in mine.select(", ".join(f'"{c}"' for c in mc)).fetchall()]
    trows = [tuple(canon(v) for v in r) for r in theirs.select(", ".join(f'"{c}"' for c in tc)).fetchall()]
    if mrows == trows:
        print(f"PASS {name} ({len(mrows)} rows)"); n_pass += 1
    elif sorted(map(repr, mrows)) == sorted(map(repr, trows)):
        print(f"ORDER-ONLY-DIFF {name} ({len(mrows)} rows)"); n_fail += 1
    else:
        print(f"FAIL {name}: rows differ (mine={len(mrows)}, oracle={len(trows)})")
        onlym = [r for r in mrows if r not in trows][:3]
        onlyt = [r for r in trows if r not in mrows][:3]
        for r in onlym: print(f"   mine only: {r}")
        for r in onlyt: print(f" oracle only: {r}")
        n_fail += 1

# ---- dtype-symmetry gate (round-14, VERDICT r13 directive 2) ----------
# The q300 class of red: values exact on both sides but the oracle column
# lands in pandas as a different dtype than the Spark parquet column
# (DuckDB HUGEINT -> float64 vs Spark int64), so the driver's dtype-aware
# hash mismatches. Gate: for every query, fetch the oracle result through
# the SAME pandas conversion the driver uses and diff each column's pandas
# kind against the Spark parquet result's pandas kind. integer-vs-float
# asymmetry = FAIL; DECIMAL-vs-double (both float64 after conversion, but
# a latent precision trap) = WARN; everything else non-equal = WARN.
import pandas as pd
n_dfail = n_dwarn = 0
dwarns = []  # "<query>.<column>" keys, diffed against the committed allowlist
for name in sorted(oracle):
    qdir = f"{out_dir}/{name}"
    if not os.path.isdir(qdir):
        continue
    try:
        trel = con.sql(oracle[name])
        ttypes = {c.lower(): str(t).upper() for c, t in zip(trel.columns, trel.types)}
        tdf = trel.df()
        mdf = pd.read_parquet(qdir)
    except Exception as e:
        print(f"DTYPE-ERR {name}: {e}"); n_dfail += 1; continue
    tkinds = {c.lower(): d.kind for c, d in tdf.dtypes.items()}
    mkinds = {c.lower(): d.kind for c, d in mdf.dtypes.items()}
    for c in sorted(set(tkinds) & set(mkinds)):
        tk, mk, lt = tkinds[c], mkinds[c], ttypes.get(c, "?")
        if tk == mk:
            # same pandas kind, but a DECIMAL/HUGEINT oracle column means
            # the match is an artifact of pandas coercion — warn so the SQL
            # gets an explicit cast before the coercion behavior shifts.
            if lt.startswith(("DECIMAL", "HUGEINT")):
                print(f"DTYPE-WARN {name}.{c}: oracle {lt} coerced to pandas "
                      f"'{tk}' happens to match spark '{mk}' — cast explicitly")
                n_dwarn += 1; dwarns.append(f"{name}.{c}")
            continue
        # benign: DuckDB DATE fetches as datetime64 while pandas reads
        # parquet date32 as object-of-datetime.date — isoformat-equal
        # values, and the driver's canonicalizer isoformats both
        if lt == "DATE" and {tk, mk} == {"M", "O"}:
            continue
        num = {"i", "u", "f"}
        if tk in num and mk in num:
            print(f"DTYPE-FAIL {name}.{c}: oracle {lt} -> pandas '{tk}' vs "
                  f"spark '{mk}' (driver hash mismatch even if values equal)")
            n_dfail += 1
        else:
            print(f"DTYPE-WARN {name}.{c}: oracle {lt} -> pandas '{tk}' vs "
                  f"spark '{mk}'")
            n_dwarn += 1; dwarns.append(f"{name}.{c}")
print(f"dtype gate: {n_dfail} fail, {n_dwarn} warn")
n_fail += n_dfail

# WARN ratchet (VERDICT r14 #5): a WARN is a latent trap (DECIMAL/HUGEINT
# coercion luck), and a print-only gate lets new ones land silently. The
# committed allowlist pins the accepted set (currently EMPTY — every known
# coercion got an explicit cast in round 13/14); any warn not on it FAILS,
# so the q300 class can't re-enter even at WARN level.
_allow_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "dtype_warn_allowlist.txt")
_allowed = set()
if os.path.exists(_allow_path):
    with open(_allow_path) as fh:
        _allowed = {ln.strip() for ln in fh
                    if ln.strip() and not ln.lstrip().startswith("#")}
_new_warns = sorted(set(dwarns) - _allowed)
if _new_warns:
    for w in _new_warns:
        print(f"DTYPE-NEW-WARN {w}: not in tools/dtype_warn_allowlist.txt — "
              f"cast explicitly or (deliberately) allowlist it")
    n_fail += len(_new_warns)
# Stale entries FAIL too (ADVICE r15): a dead allowlist line would mask a
# future reintroduction of the same <query>.<column> warn, so the list
# must stay exact, not merely monotone.
_stale = sorted(_allowed - set(dwarns))
if _stale:
    print(f"dtype allowlist: {len(_stale)} STALE entrie(s) no longer "
          f"warning — prune from tools/dtype_warn_allowlist.txt: {_stale}")
    n_fail += len(_stale)

# rows-only queries
import pathlib
for qdir in sorted(glob.glob(f"{out_dir}/*/")):
    name = pathlib.Path(qdir).name
    if name in oracle: continue
    try:
        n = con.sql(f"SELECT count(*) FROM '{qdir}/*.parquet'").fetchone()[0]
        print(f"ROWS {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
    except Exception as e:
        print(f"ROWS {name}: unreadable: {e}")

print(f"\n{n_pass} pass, {n_fail} fail")
sys.exit(1 if n_fail else 0)
