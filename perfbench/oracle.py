"""Output checks for a finished run.

Every op's result was forced inside its timing by one action that
computed an order-insensitive digest (`Digest.scala`). Here the expected
digest of each oracle-checked op is computed from the same inputs in
DuckDB, through the same canonical row form, and compared as a string.
Every op must finish without an error (the model op raises on a failed
AUC floor or reload check)."""
import decimal
import hashlib
import math
import datetime

import duckdb

_Q = decimal.Decimal("0.000001")


def _canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return "\\N"
        d = decimal.Decimal(repr(v) if isinstance(v, float) else v)
        d = d.quantize(_Q, rounding=decimal.ROUND_HALF_UP)
        return "0.000000" if d == 0 else str(d)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns, rows):
    """`<rows>:<sum of the first 15 hex digits of each row's MD5>` over
    the canonical rows, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(_canon(r[i]) for i in order)
        total += int(hashlib.md5(line.encode("utf-8")).hexdigest()[:15], 16)
    return f"{len(rows)}:{total}"


def check(result):
    """Returns (attempted, failures) where failures lists (op, reason)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, path in result["oracle_views"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    expected = {}
    failures = []
    ops = result["ops"]
    for op in ops:
        label = f"{op['name']}@pass{op['pass']}"
        if op["error"]:
            failures.append((label, op["error"]))
            continue
        sql = op["oracle"]
        if sql:
            if sql not in expected:
                try:
                    cur = con.execute(sql)
                    expected[sql] = digest([d[0] for d in cur.description], cur.fetchall())
                except Exception as e:  # an oracle that cannot run is a failed check
                    expected[sql] = f"oracle error: {e}"
            if op["digest"] != expected[sql]:
                failures.append((label, f"digest {op['digest']} != oracle {expected[sql]}"))
    return len(ops), failures
