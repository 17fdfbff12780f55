"""DuckDB oracle digests in the canonical form of perfbench/scala/Digest.scala.

The encoding follows tools/check.py: columns sorted by name, result types as
DuckDB reports them with every integer width up to 64 bits collapsed to
INT64, and type-faithful cells (int and float never coerced, -0.0 distinct
from 0.0, NaN equal to NaN). Two results digest equal exactly when check.py
would pass them.
"""
import datetime
import decimal
import hashlib
import struct

INT64 = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def type_name(t):
    t = str(t)
    if t in INT64:
        return "INT64"
    if t.endswith("[]"):
        return type_name(t[:-2]) + "[]"
    return t


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if v != v:
            return "fnan"
        return "f%x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo is not None else EPOCH
        return "t%d" % ((v - base) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, decimal.Decimal):
        return "m" + format(v, "f")
    if isinstance(v, dict):
        return "r(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "a[" + ",".join(cell(x) for x in v) + "]"
    return "x" + str(v)


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def digest(con, sql):
    """(row count, sha256 hex) of the oracle's ordered result."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    types = [type_name(t) for t in rel.types]
    rows = rel.fetchall()
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    h.update((",".join(f"{cols[i]}:{types[i]}" for i in perm) + "\n").encode("utf-8"))
    for r in rows:
        h.update(("|".join(cell(r[i]) for i in perm) + "\n").encode("utf-8"))
    return len(rows), h.hexdigest()
