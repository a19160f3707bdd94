"""DuckDB side of the correctness gate.

For each registered query the JVM reports an order-free digest of its
collected result (perfbench/src/Digest.scala). This module runs the
query's `SparkEntry.oracleSql` twin in DuckDB over the same generated
Parquet files and digests the answer the same way, following
tools/rehearse.py's normalisation: columns sorted by name, rows as a
multiset, integers kept apart from non-integers, floats compared bit-exact.
"""
import datetime as dt
import decimal
import hashlib
import os
import struct

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _num(x):
    x = float(x)
    if x == 0.0:
        x = 0.0
    return "f:" + str(struct.unpack(">q", struct.pack(">d", x))[0])


def canon(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, dt.datetime):
        return "t:" + v.isoformat()
    if isinstance(v, dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(e) for e in v.values()) + "}"
    return "o:" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for r in rows:
        line = "|".join(canon(r[i]) for i in order)
        h = hashlib.sha256(line.encode("utf-8")).digest()
        acc = (acc + struct.unpack(">q", h[:8])[0]) % (1 << 64)
    return f"{len(rows)}:{acc}"


def digests(data_dir, oracle_sql, names):
    """{name: digest or 'ERROR: ...'} for the oracle twins of `names`."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for n in names:
        try:
            cur = con.execute(oracle_sql[n])
            cols = [d[0] for d in cur.description]
            out[n] = digest(cols, cur.fetchall())
        except Exception as e:  # an oracle that cannot run fails the op
            out[n] = f"ERROR: {type(e).__name__}: {str(e)[:200]}"
    con.close()
    return out
