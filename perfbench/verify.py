"""Oracle check of query outputs: each query's warm-up result (parquet,
written by the benchmark JVM) against its `SparkEntry.oracleSql` run in
DuckDB over the same generated tables — a per-query row count plus an
order-insensitive content hash, with values normalized the way the
repo's tools/check.py compares them (floats by repr, columns sorted by
name)."""
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def content_hash(rows):
    """(row count, order-insensitive hash) of normalized rows."""
    digests = sorted(hashlib.sha256("\x1f".join(_norm(x) for x in r).encode()).digest()
                     for r in rows)
    h = hashlib.sha256()
    for d in digests:
        h.update(d)
    return len(rows), h.hexdigest()


def oracle_check(data_dir, out_dir, report, tmp_dir):
    """Returns (checks, failures, notes)."""
    import duckdb
    con = duckdb.connect(config={"memory_limit": "1GB", "threads": 2,
                                 "temp_directory": tmp_dir})
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = report.get("oracle_sql", {})
    checks = failures = 0
    notes = []
    for name in report.get("queries", []):
        qdir = os.path.join(out_dir, name)
        if name not in oracles or not os.path.isdir(qdir):
            continue
        checks += 1
        try:
            got_rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
            cols = sorted(got_rel.columns)
            got = con.sql(f"SELECT {', '.join(cols)} FROM '{qdir}/*.parquet'").fetchall()
            exp_rel = con.sql(oracles[name])
            exp_cols = sorted(exp_rel.columns)
            if exp_cols != cols:
                raise ValueError(f"columns {cols} vs oracle {exp_cols}")
            exp = con.sql(f"SELECT {', '.join(exp_cols)} FROM ({oracles[name]}) oq").fetchall()
            g, e = content_hash(got), content_hash(exp)
            if g != e:
                raise ValueError(f"rows/hash {g[0]}/{g[1][:12]} vs oracle {e[0]}/{e[1][:12]}")
        except Exception as ex:  # a wrong or failing query is a failed check
            failures += 1
            notes.append(f"oracle {name}: {str(ex)[:300]}")
    return checks, failures, notes
