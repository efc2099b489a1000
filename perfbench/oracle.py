"""DuckDB oracle side of the correctness check.

Each checked step's output is compared by hash with the result of the
query's registered oracle SQL (`SparkEntry.oracleSql`) run by DuckDB over
the unpermuted inputs. Both sides are canonicalised with the repository's
own comparator (`tools/check_correctness.py`: columns sorted by name, rows
sorted, decimals and HUGEINTs through float repr), so this check agrees
with the project's oracle gate.
"""
import functools
import glob
import hashlib
import importlib.util
import json
import os

import duckdb


@functools.lru_cache(maxsize=None)
def _comparator(root):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _digest(cols, mat):
    return hashlib.sha256(json.dumps([cols, mat]).encode()).hexdigest()


def _connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for d in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(d)[:-len(".parquet")]
        src = f"read_parquet('{d}/*.parquet')"
        cols = con.sql(f"SELECT * FROM {src}")
        # timezone-aware columns become naive UTC wall time, as Spark sees them
        fix = [f'"{c}"::TIMESTAMP AS "{c}"' for c, t in zip(cols.columns, cols.types)
               if str(t) == "TIMESTAMP WITH TIME ZONE"]
        sel = f"* REPLACE ({', '.join(fix)})" if fix else "*"
        con.execute(f"CREATE VIEW {name} AS SELECT {sel} FROM {src}")
    return con


def oracle_hashes(root, tables_dir, oracle_sql):
    """query name -> canonical hash of the oracle's result."""
    cc = _comparator(root)
    con = _connect(tables_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        rel = con.sql(sql)
        cols = list(rel.columns)
        huge = [c for c, t in zip(cols, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]
        out[name] = _digest(*cc.table_of(rel.fetchall(), cols, huge))
    return out


def dump_hash(root, dump_dir):
    """Canonical hash of one dumped Spark output (a parquet directory)."""
    cc = _comparator(root)
    files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    return _digest(*cc.table_of(rel.fetchall(), list(rel.columns)))
