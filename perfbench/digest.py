"""Oracle side of the result digest: the DuckDB twin of `Digest.scala`.

Both sides reduce a result to sha256 over its canonical rows: columns in
name order, each cell in a typed canonical form, rows sorted by their UTF-8
bytes. Floats compare by IEEE bits, timestamps as UTC microseconds, dates
as epoch days, so equal digests mean the same multiset of rows, cell for
cell, as the repository's local oracle gate (`tools/verify_local.py`)
would judge them.
"""
import datetime
import decimal
import hashlib
import math
import struct

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)


def _micros(ts):
    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = ts - EPOCH
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "b:true" if v else "b:false"
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        s = format(v.normalize(), "f")
        return "n:" + ("0" if s in ("-0", "0") else s)
    if isinstance(v, str):
        return "s:%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, datetime.datetime):
        return "t:%d" % _micros(v)
    if isinstance(v, datetime.date):
        return "d:%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    raise TypeError("no canonical form for %r" % type(v))


def of(columns, rows):
    """(hex sha256, row count) of a result given its column names and rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order).encode("utf-8") for r in rows)
    h = hashlib.sha256()
    h.update(("cols:" + ",".join(columns[i] for i in order) + "\n").encode("utf-8"))
    for line in lines:
        h.update(line)
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def oracle(data_dir, tables, sql_by_query):
    """Run each query's oracle SQL in DuckDB over the parquet tables in
    `data_dir`; returns {query: {"digest": hex, "rows": n}}."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, data_dir, t))
    out = {}
    for q, sql in sql_by_query.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        digest, n = of(cols, cur.fetchall())
        out[q] = {"digest": digest, "rows": n}
    con.close()
    return out
