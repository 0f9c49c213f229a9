#!/usr/bin/env python3
"""Rehearse the driver's correctness gate: run each oracle SQL in DuckDB over
the sf parquet tables and compare (schema-sorted, row-sorted) against the
Spark parquet dumps produced by graft.Verify.
"""
import duckdb, json, sys, glob, math

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_sf001"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

# Fixed limits: on a shared host an unbounded DuckDB grew past 12 GiB on
# one oracle (q_ingest_near_dup) before failing; capped, it fails that row
# with "Out of Memory" and leaves the machine's memory to everyone else.
con = duckdb.connect(config={"memory_limit": "4GB", "threads": 4})
for t in ["documents", "embeddings", "lineitem", "orders", "customer", "part",
          "supplier", "nation", "region", "events"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracles.items()):
    try:
        oracle = con.sql(sql).df()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR {str(e)[:120]}")
        fails += 1
        continue
    try:
        spark = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
    except Exception as e:
        print(f"{name}: SPARK DUMP MISSING/UNREADABLE {str(e)[:120]}")
        fails += 1
        continue
    ocols = sorted(oracle.columns)
    scols = sorted(spark.columns)
    if ocols != scols:
        print(f"{name}: SCHEMA MISMATCH oracle={ocols} spark={scols}")
        fails += 1
        continue
    o = oracle[ocols].sort_values(ocols).reset_index(drop=True)
    s = spark[scols].sort_values(scols).reset_index(drop=True)
    if len(o) != len(s):
        print(f"{name}: ROWCOUNT oracle={len(o)} spark={len(s)}")
        fails += 1
        continue
    bad = 0
    for c in ocols:
        for i in range(len(o)):
            x, y = o[c].iloc[i], s[c].iloc[i]
            if isinstance(x, float) or isinstance(y, float):
                fx, fy = float(x), float(y)
                if not (fx == fy or (math.isnan(fx) and math.isnan(fy))):
                    if bad < 3:
                        print(f"  {name}.{c}[{i}]: oracle={x!r} spark={y!r}")
                    bad += 1
            elif str(x) != str(y):
                if bad < 3:
                    print(f"  {name}.{c}[{i}]: oracle={x!r} spark={y!r}")
                bad += 1
    if bad:
        print(f"{name}: {bad} VALUE MISMATCHES over {len(o)} rows")
        fails += 1
    else:
        print(f"{name}: OK ({len(o)} rows)")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
