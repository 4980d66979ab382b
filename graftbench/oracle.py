"""DuckDB oracle check for the query mixes.

Mirrors the comparison of `tools/check.py`: each query's landed result is
compared with its `SparkEntry.oracleSql` replayed in DuckDB over the same
input tables, column-name-sorted and row-sorted with exact values, NaN read
as null, and an int/float dtype crossing counted as a mismatch.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    cols = sorted(df.columns)
    rows = df[cols].values.tolist()

    def key(r):
        return tuple((x is None or (isinstance(x, float) and math.isnan(x)), str(x)) for x in r)
    return cols, sorted(rows, key=key)


def _norm(x):
    return None if isinstance(x, float) and math.isnan(x) else x


def _family(dtype):
    return ("int" if dtype.startswith(("int", "uint")) else
            "float" if dtype.startswith("float") else dtype)


def check(data_dir, out_dir, oracle_sql, names):
    """Returns {name: (ok, detail, result_rows)} for every name that ran."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdicts = {}
    for name in names:
        src = f"read_parquet('{os.path.join(out_dir, name)}/*.parquet')"
        try:
            n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
            sql = oracle_sql.get(name)
            if sql is None:
                verdicts[name] = (False, "no oracle SQL to check against", n)
                continue
            sdf = con.execute(f"SELECT * FROM {src}").fetchdf()
            odf = con.execute(sql).fetchdf()
        except Exception as e:  # a failing oracle or an unreadable result
            verdicts[name] = (False, f"error: {e}"[:300], 0)
            continue
        scols, srows = _canon(sdf)
        ocols, orows = _canon(odf)
        if scols != ocols:
            verdicts[name] = (False, f"columns {scols} vs {ocols}", n)
        elif len(srows) != len(orows):
            verdicts[name] = (False, f"rows {len(srows)} vs {len(orows)}", n)
        elif any([_norm(x) for x in a] != [_norm(x) for x in b] for a, b in zip(srows, orows)):
            verdicts[name] = (False, "values differ", n)
        else:
            sd, od = dict(sdf.dtypes.astype(str)), dict(odf.dtypes.astype(str))
            cross = {c for c in sd if c in od and {_family(sd[c]), _family(od[c])} == {"int", "float"}}
            verdicts[name] = (not cross, f"int/float crossing {sorted(cross)}" if cross else "ok", n)
    con.close()
    return verdicts
