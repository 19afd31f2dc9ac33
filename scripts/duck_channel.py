#!/usr/bin/env python3
"""DuckDB wall time for qds_channel_rollup over a bench fixture —
the oracle side of BASELINE's round-15 channel ledger (same query text
as the gate, threads matched to the Spark session's local[32])."""
import sys, time, duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "benchdata/sf100"
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

con = duckdb.connect()
con.execute("SET threads TO 32")
for t in ("lineitem", "orders", "customer", "nation"):
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'")

Q = """SELECT channel, nation, round(sum(revenue), 2) AS revenue,
  count(*) AS n_sales
FROM (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
           THEN 'express' ELSE 'standard' END AS channel,
    n_name AS nation,
    l_extendedprice * (1 - l_discount) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1','NATION_2','NATION_3'))
GROUP BY ROLLUP(channel, nation)
ORDER BY channel NULLS FIRST, nation NULLS FIRST"""

times = []
for r in range(reps):
    t0 = time.time()
    n = len(con.execute(Q).fetchall())
    dt = time.time() - t0
    times.append(dt)
    print(f"[duck_channel] rep={r+1} {dt:8.3f} s rows={n}")
times.sort()
print(f'{{"metric":"duck_channel","sf":"{sf}","median":{times[len(times)//2]:.3f}}}')
