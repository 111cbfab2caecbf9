#!/usr/bin/env python3
"""Self-run of the driver's correctness gate: compare each Verify parquet
dump against its DuckDB oracle (columns sorted by name, rows sorted,
values compared with float rounding already applied in both engines).

    python3 scripts/selfverify.py <sfDir> <outDir>
    python3 scripts/selfverify.py --against <otherOutDir> <outDir>

The second form compares two `graft.Verify` dumps instead (say, of a
refactor and of its parent commit): every `<name>.parquet` row for row
through the same loop, and every `<name>.sql` after collapsing runs of
whitespace. Each difference prints one FAIL line."""
import json, sys, glob, math, os, re
import duckdb

args = sys.argv[1:]
against = None
if args[:1] == ["--against"]:
    if len(args) != 3:
        sys.exit(__doc__)
    against, out_dir = args[1], args[2]
else:
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/graft_verify"

con = duckdb.connect()
con.sql("SET threads=16")


def dump(d, name):
    return con.sql(f"SELECT * FROM '{d}/{name}.parquet/*.parquet'").df()


def dump_names(d):
    return {os.path.basename(p)[:-len(".parquet")] for p in glob.glob(f"{d}/*.parquet")}


def compare(name, want, got):
    """One OK/FAIL line for `got` against `want`; True when they match."""
    want = want[sorted(want.columns)]
    got = got[sorted(got.columns)]
    if list(want.columns) != list(got.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
        return False
    ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    if len(ws) != len(gs):
        print(f"FAIL {name}: rows {len(gs)} vs {len(ws)}")
        return False
    diffs = []
    for c in ws.columns:
        for i in range(len(ws)):
            a, b = ws[c].iloc[i], gs[c].iloc[i]
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)) or a == b:
                    continue
                diffs.append((c, i, a, b))
            elif str(a) != str(b):
                diffs.append((c, i, a, b))
    if diffs:
        print(f"FAIL {name}: {len(diffs)} value diffs, first: {diffs[:3]}")
        return False
    print(f"OK   {name}: {len(ws)} rows")
    return True


fail = 0
if against is not None:
    names = dump_names(out_dir) | dump_names(against)
    for name in sorted(names):
        try:
            ok = compare(name, dump(against, name), dump(out_dir, name))
        except Exception as e:
            print(f"FAIL {name}: dump missing or unreadable: {e}")
            ok = False
        fail += not ok

    def sql_files(d):
        return {os.path.basename(p)[:-len(".sql")]: p for p in glob.glob(f"{d}/*.sql")}

    mine, theirs = sql_files(out_dir), sql_files(against)
    for name in sorted(mine.keys() | theirs.keys()):
        if name not in mine or name not in theirs:
            print(f"FAIL {name}.sql: only in {out_dir if name in mine else against}")
            fail += 1
            continue
        a, b = (re.sub(r"\s+", " ", open(p).read()).strip() for p in (theirs[name], mine[name]))
        if a != b:
            at = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            print(f"FAIL {name}.sql: differs at char {at}: {a[at:at + 60]!r} vs {b[at:at + 60]!r}")
            fail += 1
    print(f"\n{len(names)} dumps, {len(mine.keys() | theirs.keys())} sql files compared")
else:
    for t in glob.glob(f"{sf_dir}/*.parquet"):
        name = t.split("/")[-1].replace(".parquet", "")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Verify emits each entry under BOTH `name` and `name.parquet` keys (the
    # driver keys its report by dump file name); normalize to bare names here.
    oracle = {k[:-8] if k.endswith(".parquet") else k: v for k, v in oracle.items()}
    for name in sorted(oracle):
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            fail += 1
            continue
        try:
            got = dump(out_dir, name)
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            fail += 1
            continue
        fail += not compare(name, want, got)

    for name in sorted(dump_names(out_dir) - oracle.keys()):
        n = con.sql(f"SELECT count(*) FROM '{out_dir}/{name}.parquet/*.parquet'").fetchone()[0]
        print(f"{'OK  ' if n > 0 else 'WARN'} {name}: rows-only, {n} rows")
        if n == 0:
            fail += 1
print(f"\n{'ALL GREEN' if fail == 0 else f'{fail} FAILURES'}")
sys.exit(1 if fail else 0)
