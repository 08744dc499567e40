"""Result checks: each operation's full cold-pass result against DuckDB's
evaluation of its `SparkEntry.oracleSql`.

The comparison follows `dev/check_parity.py`: columns sorted by name,
row order kept, exact values, arrow types collapsed to their Python
kind. DuckDB answers are cached under the run's scratch area, keyed by
the SQL text and a hash of the input files.
"""
import datetime
import decimal
import functools
import glob
import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def type_key(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{type_key(t.value_type)}>"
    return str(t)


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def rows(tbl):
    cols = sorted(tbl.column_names)
    return cols, [tuple(norm(r[c]) for c in cols) for r in tbl.to_pylist()]


def compare(spark_tbl, want_tbl):
    """Returns None when the tables agree, else the first difference."""
    cols, got = rows(spark_tbl)
    wcols, want = rows(want_tbl)
    if cols != wcols:
        return f"columns {cols} != {wcols}"
    bad = [f"{c}: {type_key(spark_tbl.schema.field(c).type)} != "
           f"{type_key(want_tbl.schema.field(c).type)}"
           for c in cols if type_key(spark_tbl.schema.field(c).type)
           != type_key(want_tbl.schema.field(c).type)]
    if bad:
        return "types " + "; ".join(bad)
    if got != want:
        for i, (a, b) in enumerate(zip(got, want)):
            if a != b:
                return f"{len(got)} rows vs {len(want)}; first diff @ {i}: {a} != {b}"
        return f"{len(got)} rows vs {len(want)}"
    return None


@functools.lru_cache(maxsize=None)
def fingerprint(sf_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle(sql, sf_dir, cache_dir):
    """DuckDB's answer to `sql` over the tables in `sf_dir`, cached."""
    key = hashlib.sha256((sql + "\0" + fingerprint(sf_dir)).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
    tbl = con.execute(sql).arrow()
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    return tbl


def check(name, sf_dir, result_dir, all_sql, cache_dir):
    """Returns (ok, reason) for one operation's result directory."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return False, "no result written"
    got = pq.read_table(files[0])
    try:
        if name in all_sql:
            want = oracle(all_sql[name], sf_dir, cache_dir)
        else:
            return False, "no oracle SQL and no property check"
    except Exception as e:  # an oracle that cannot run is a failed check
        return False, f"check error: {e}"
    diff = compare(got, want)
    return diff is None, diff or "ok"
