#!/usr/bin/env python3
"""Regenerates perfbench/expected.tsv, the batch workload's expected results.

    python3 perfbench/make_expected.py

Takes each query's DuckDB oracle SQL from graft (SparkEntry.oracleSql),
runs it over perfbench/data, and stores per query: row count, an
order-independent hash of the canonical rows, and the sorted column
names. The canonical form matches perfbench.Canon / Expected.hash.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os
import subprocess

import duckdb

import run

CTX = decimal.Context(prec=15, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def num(d):
    r = CTX.create_decimal(d)
    return "0" if r == 0 else format(r.normalize(), "f")


def canon(x):
    if x is None:
        return "null"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, int):
        return str(x)
    if isinstance(x, float):
        if x != x:
            return "NaN"
        if x in (float("inf"), float("-inf")):
            return "Infinity" if x > 0 else "-Infinity"
        return num(decimal.Decimal(x))
    if isinstance(x, decimal.Decimal):
        return num(x)
    if isinstance(x, str):
        return x
    if isinstance(x, datetime.datetime):
        if x.tzinfo is not None:
            x = x.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + str((x - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(x, datetime.date):
        return "d" + str((x - datetime.date(1970, 1, 1)).days)
    if isinstance(x, dict):
        return "{" + ",".join(canon(v) for v in x.values()) + "}"
    if isinstance(x, (list, tuple)):
        return "[" + ",".join(canon(v) for v in x) + "]"
    if isinstance(x, (bytes, bytearray)):
        return x.hex()
    return str(x)


def row_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        s = "\u001f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")
    return format(total % 2**64, "x")


def main():
    os.makedirs(run.WORK, exist_ok=True)
    oracle_file = os.path.join(run.WORK, "oracle.json")
    cp = run.classpath()
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--dump-oracle", oracle_file],
                   check=True)
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(run.HERE, "data", "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    lines = []
    for name, sql in oracle.items():
        res = con.sql(sql)
        cols, rows = res.columns, res.fetchall()
        lines.append(f"{name}\t{len(rows)}\t{row_hash(cols, rows)}\t{','.join(sorted(cols))}")
        print(lines[-1].split("\t")[:2])
    with open(os.path.join(run.HERE, "expected.tsv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
