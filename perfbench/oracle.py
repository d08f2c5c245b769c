"""Content check of dumped query results against the DuckDB oracle.

The program declares, for most queries, an equivalent SQL statement
(``SparkEntry.oracleSql``).  ``compare`` runs each one with DuckDB over
the same star-schema parquet files and checks the Spark result dumped
by the benchmark: same column names, same rows (as a multiset, columns
ordered by name), floats equal to 1e-9 relative.  Queries without an
oracle statement are checked by row count only (``refs.json``).
"""
import glob
import json
import math
import os
import sys

import duckdb


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted((tuple(r[i] for i in order) for r in rows), key=lambda t: tuple(map(repr, t))))


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9,
                                                                             abs_tol=1e-12)
    return a == b


def compare(data_dir, dump_dir, sql_file):
    """Returns the names of queries whose dumped result differs from the oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = []
    oracle = json.load(open(sql_file))
    for name, sql in sorted(oracle.items()):
        try:
            res = con.execute(sql)
            oc, orows = _canon([d[0] for d in res.description], res.fetchall())
            got = con.execute(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'")
            sc, srows = _canon([d[0] for d in got.description], got.fetchall())
        except Exception as e:  # noqa: BLE001 -- any failure is a mismatch
            print(f"ORACLE {name}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            bad.append(name)
            continue
        if oc != sc or len(orows) != len(srows) or not all(
                _same(x, y) for ro, rs in zip(orows, srows) for x, y in zip(ro, rs)):
            detail = (f"columns {oc} vs {sc}" if oc != sc
                      else f"{len(orows)} vs {len(srows)} rows" if len(orows) != len(srows)
                      else "values differ")
            print(f"ORACLE {name}: {detail}", file=sys.stderr)
            bad.append(name)
    print(f"oracle: {len(oracle) - len(bad)}/{len(oracle)} queries match DuckDB", file=sys.stderr)
    return bad
