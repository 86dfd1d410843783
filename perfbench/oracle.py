"""Oracle digests of the dw_batch queries.

A digest is the row count and the sum (mod 2**64) of a 64-bit hash per
row, so row order never matters. Each row is normalised as
tools/check_oracle.py compares results: columns sorted by name, floats
and decimals to 6 significant digits (`%.6g`), other values as `str()`.
perfbench/src/Digest.scala computes the same digest from Spark rows.

`regen` replays each query's DuckDB oracle SQL (SparkEntry.oracleSql)
over the fixture tables, checks that Spark's digest agrees, and writes
perfbench/digests.json. DuckDB is needed only for regeneration.
"""
import datetime
import decimal
import json
import math

MASK = (1 << 64) - 1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """One value, as its canonical string."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, int, str)):
        return str(v)
    raise TypeError(f"digest: unsupported value {v!r} ({type(v).__name__})")


def row_hash(values):
    """64-bit FNV-1a of the row's canonical string (UTF-8)."""
    h = 0xcbf29ce484222325
    for b in "\x1f".join(norm(v) for v in values).encode("utf-8"):
        h = ((h ^ b) * 0x100000001b3) & MASK
    return h


def digest(columns, rows):
    """Digest of rows (tuples in `columns` order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash([r[i] for i in order])) & MASK
        n += 1
    return f"{n}:{total:016x}"


def duck_digest(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _json_out(lines):
    return json.loads([l for l in lines if l.startswith("{")][-1])


def regen(run_jvm, data_dir, out_path, cores):
    code, lines = run_jvm(["oracle-sql"], "oracle-sql")
    if code != 0:
        raise SystemExit("perfbench: could not list the oracle SQL")
    sqls = _json_out(lines)
    con = connect(data_dir)
    duck = {q: duck_digest(con, sql) for q, sql in sqls.items()}
    code, lines = run_jvm(["spark-digests", data_dir, str(cores)], "spark-digests")
    if code != 0:
        raise SystemExit("perfbench: Spark digests failed")
    spark = _json_out(lines)
    bad = [q for q in duck if spark.get(q) != duck[q]]
    for q in sorted(duck):
        print(f"{q:32s} duckdb={duck[q]} spark={spark.get(q)}{'  MISMATCH' if q in bad else ''}")
    with open(out_path, "w") as f:
        json.dump(dict(sorted(duck.items())), f, indent=1)
        f.write("\n")
    if bad:
        raise SystemExit(f"perfbench: Spark disagrees with the oracle on {bad}")
