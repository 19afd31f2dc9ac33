#!/usr/bin/env python3
"""Regenerate the read workloads' oracle fingerprints.

    python3 perfbench/oracle/regen.py

Builds the benchmark, dumps the declared DuckDB oracle SQL of every
olap_read / llm_pipeline query (SparkEntry.oracleSql) to oracle_sql.json,
evaluates each statement once in DuckDB over perfbench/data/sf0.1, and
writes the result fingerprints to sf0.1.json. The fixtures are read-only,
so the fingerprints only change when a query's oracle SQL does; the
benchmark compares every query result against them instead of running
DuckDB per run (some oracles take tens of seconds).

The fingerprint mirrors perfbench.Digest: columns by sorted name, one
type class per column (all integer widths are "int"), each row encoded
canonically (doubles as IEEE bits), MD5 per row, first 8 bytes summed
modulo 2^64. Needs the duckdb and pyarrow Python packages.
"""
import hashlib
import json
import os
import struct
import subprocess
import sys
import time

import duckdb
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
PB = os.path.dirname(HERE)
sys.path.insert(0, PB)
import run  # noqa: E402  (build + JVM launch helpers)

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def type_name(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<%s>" % type_name(t.value_type)
    if pa.types.is_map(t):
        return "map<%s,%s>" % (type_name(t.key_type), type_name(t.item_type))
    if pa.types.is_struct(t):
        return "struct<%s>" % ",".join(
            "%s:%s" % (f.name, type_name(f.type)) for f in t)
    return str(t)


def encode(v, t):
    if v is None:
        return "N"
    if pa.types.is_integer(t):
        return "i%d" % v
    if pa.types.is_floating(t):
        if v != v:
            return "d7ff8000000000000"
        return "d" + struct.pack(">d", float(v)).hex()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s" + v
    if pa.types.is_boolean(t):
        return "b1" if v else "b0"
    if pa.types.is_timestamp(t):
        return "t%d" % v  # already integer microseconds, see to_rows
    if pa.types.is_date(t):
        return "D%d" % v
    if pa.types.is_decimal(t):
        return "x" + format(v, "f")
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "y" + v.hex()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "[" + "\u0002".join(encode(x, t.value_type) for x in v) + "]"
    if pa.types.is_map(t):
        return "m{" + "\u0003".join(sorted(
            encode(k, t.key_type) + "=" + encode(x, t.item_type)
            for k, x in v)) + "}"
    if pa.types.is_struct(t):
        return "{" + "\u0003".join(encode(v[f.name], f.type) for f in t) + "}"
    return "?" + str(v)


def to_rows(table):
    """Columns by sorted name; timestamps and dates as integers."""
    names = sorted(table.schema.names)
    cols, types = [], []
    for n in names:
        col = table.column(n)
        t = col.type
        if pa.types.is_timestamp(t):
            mul, div = {"s": (1000000, 1), "ms": (1000, 1), "us": (1, 1),
                        "ns": (1, 1000)}[t.unit]
            col_vals = [None if x is None else x * mul // div
                        for x in col.cast(pa.int64()).to_pylist()]
        elif pa.types.is_date32(t):
            col_vals = col.cast(pa.int32()).to_pylist()
        else:
            col_vals = col.to_pylist()
        cols.append(col_vals)
        types.append(t)
    return names, types, cols


def fingerprint(table):
    names, types, cols = to_rows(table)
    total = 0
    for i in range(table.num_rows):
        line = "\u0001".join(encode(c[i], t) for c, t in zip(cols, types))
        total += struct.unpack(">q", hashlib.md5(line.encode("utf-8")).digest()[:8])[0]
    return {"types": ",".join("%s:%s" % (n, type_name(t))
                              for n, t in zip(names, types)),
            "rows": table.num_rows,
            "sum": "%016x" % (total % (1 << 64))}


def main():
    """Usage: regen.py [query ...] — with names, only those are
    re-evaluated and merged into the existing sf0.1.json."""
    only = set(sys.argv[1:])
    run.build()
    sql_path = os.path.join(HERE, "oracle_sql.json")
    run.java(["--dump-oracle-sql", sql_path], run.work_dir("oracle"))
    with open(sql_path) as f:
        oracle_sql = json.load(f)
    with open(sql_path, "w") as f:
        json.dump(oracle_sql, f, indent=1, sort_keys=True)
        f.write("\n")
    data = os.path.join(PB, "data", "sf0.1")
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data, t))
    out_path = os.path.join(HERE, "sf0.1.json")
    out = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            out = json.load(f)
    for name in sorted(oracle_sql):
        if only and name not in only:
            continue
        sql = oracle_sql[name]
        if sql is None:
            out.pop(name, None)
            print("%-24s no oracle SQL declared" % name, flush=True)
            continue
        t0 = time.time()
        out[name] = fingerprint(con.sql(sql).arrow())
        print("%-24s rows=%d %.1fs" % (name, out[name]["rows"],
                                       time.time() - t0), flush=True)
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
