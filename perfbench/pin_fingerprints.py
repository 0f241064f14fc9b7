#!/usr/bin/env python3
"""Derive the pinned batch fingerprints from the DuckDB oracle.

    python3 perfbench/pin_fingerprints.py

Reads each batch query's oracle SQL from SparkEntry.oracleSql (through
the harness's --print-oracle mode), runs it in DuckDB over
perfbench/data/documents.parquet (the sf0.1 fixture), and writes
perfbench/fingerprints.json: per query, the row count and the sum of
the row hashes. A row renders as in Fingerprint.scala: columns in name
order joined by U+0001, doubles as the hex of their IEEE bits. Needs
the duckdb Python package; the benchmark itself does not.
"""
import hashlib
import json
import os
import struct
import subprocess
import sys
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the build and the paths)

MASK = (1 << 64) - 1


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        x = 0.0 if v == 0.0 else v
        return "%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]
    if isinstance(v, str):
        return v
    if isinstance(v, Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(e) for e in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def fingerprint(cur):
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows, total = 0, 0
    for row in cur.fetchall():
        text = "\u0001".join(render(row[i]) for i in order)
        total = (total + int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")) & MASK
        rows += 1
    return {"rows": rows, "hash": "%016x" % total}


def main():
    classpath = run.build()
    out = subprocess.run(
        ["java", run.NO_PERF_FILE, "-cp", os.pathsep.join(classpath + [os.path.join(run.JARS, "*")]),
         "graftbench.Main", "--print-oracle"],
        check=True, capture_output=True, text=True).stdout
    oracle = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    docs = os.path.join(run.HERE, "data", "documents.parquet")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    pins = {}
    for name, sql in sorted(oracle.items()):
        pins[name] = fingerprint(con.execute(sql))
        print(name, pins[name])
    with open(os.path.join(run.HERE, "fingerprints.json"), "w") as fh:
        json.dump(pins, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()
