#!/usr/bin/env python3
"""Derive the expected result hash of every `catalog_core` query from its
DuckDB oracle (`SparkEntry.oracleSql`) over the benchmark's tables.

    python3 perfbench/derive_hashes.py [scale_factor]

Builds the benchmark if needed, asks the JVM for the oracle SQL of each
query, runs it in DuckDB and writes perfbench/expected/catalog_sf<sf>.json.
The hash is the one `perfbench.Canon` computes on the Spark side: columns
in order of their lower-cased names, rows in result order, doubles by their
IEEE bits, decimals as plain strings, timestamps as epoch microseconds,
dates as epoch days, strings prefixed by their UTF-8 length.
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import struct
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return "Fnan" if v != v else "F" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        return "D" + ("0" if v == 0 else format(v.normalize(), "f"))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"T{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"d{v.toordinal() - EPOCH.toordinal()}"
    if isinstance(v, str):
        return f"s{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, dict):
        return "r[" + ",".join(canon(x) for x in v.values()) + "]"
    if isinstance(v, (list, tuple)):
        return "l[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "x" + v.hex()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def result_hash(tbl):
    names = tbl.column_names
    order = sorted(range(len(names)), key=lambda i: names[i].lower())
    md = hashlib.sha256("\x1f".join(names[i].lower() for i in order).encode())
    cols = [tbl.column(i).to_pylist() for i in order]
    for row in zip(*cols):
        md.update(b"\x1e")
        md.update("\x1f".join(canon(v) for v in row).encode())
    return tbl.num_rows, md.hexdigest()


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else run.CATALOG_SF
    classpath = run.ensure_build()
    data = run.ensure_data(sf)
    work = os.path.join(run.WORK_ROOT, "oracle-dump")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "oracle.json")
    rc = run.run_jvm(classpath, work, ["--dump-oracle", dump], os.path.join(work, "log"), 300)
    if rc != 0:
        run.fail(f"oracle dump failed (exit {rc})")
    oracle = json.load(open(dump))
    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for q in sorted(oracle):
        rows, sha = result_hash(con.execute(oracle[q]).arrow())
        out[q] = {"rows": rows, "sha256": sha}
        print(f"{q}: {rows} rows {sha[:12]}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(run.BENCH, "expected"), exist_ok=True)
    path = os.path.join(run.BENCH, "expected", f"catalog_sf{sf}.json")
    with open(path, "w") as fh:
        json.dump({"scale_factor": sf, "data_seed": 20260813, "queries": out}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
