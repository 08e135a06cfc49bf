"""Expected answers from each query's DuckDB oracle SQL.

The answer is written in the canonical form of Canon.scala: columns
sorted by name, every cell reduced to one string (numbers rounded
half-even at 9 decimals and printed plainly, booleans as 1/0, lists
element-wise), rows sorted. Any change here must be mirrored there.
"""
import datetime
import decimal
import json
import math
import os

import duckdb

decimal.getcontext().prec = 400
_NINE = decimal.Decimal(1).scaleb(-9)


def _number(d):
    r = d.quantize(_NINE, rounding=decimal.ROUND_HALF_EVEN)
    if r == 0:
        return "0"
    return format(r.normalize(), "f")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _current(path, sql):
    """True when the answer at `path` exists and was computed from `sql`."""
    if not os.path.exists(path):
        return False
    with open(path) as f:
        return json.load(f).get("sql") == sql


def answers(data_dir, out_dir, sql_by_query, threads):
    """Writes <out_dir>/<query>.json for every query whose answer is
    missing or was computed from other oracle SQL than the current."""
    todo = [q for q, sql in sql_by_query.items() if not _current(os.path.join(out_dir, f"{q}.json"), sql)]
    if not todo:
        return
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": threads,
                                 "temp_directory": os.path.join(out_dir, ".duckdb_tmp")})
    for f in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, f)
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    for q in todo:
        rel = con.sql(sql_by_query[q])
        cols = list(rel.columns)
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = sorted([canon(r[i]) for i in order] for r in rel.fetchall())
        path = os.path.join(out_dir, f"{q}.json")
        with open(path + ".tmp", "w") as f:
            json.dump({"sql": sql_by_query[q], "cols": [cols[i] for i in order], "rows": rows}, f)
        os.replace(path + ".tmp", path)
    con.close()
