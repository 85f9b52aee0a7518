"""Correctness checks that need an engine other than Spark.

`query_mix` results are compared against `SparkEntry.oracleSql` run in
DuckDB over the same generated tables, with the normalisation of the
project's `tools/check.py`: columns sorted by name, rows sorted, dates
and midnight timestamps as ISO dates, every value compared by `repr`.
"""
import datetime as _dt
import glob
import json
import os

import duckdb
import pandas as _pd
import pyarrow.parquet as pq

def _norm(v):
    if isinstance(v, _pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, _dt.datetime):
        if v.hour == v.minute == v.second == 0 and v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return repr(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return sorted(cols), out


def _rows(df):
    return [tuple(v.item() if hasattr(v, "item") else v for v in row)
            for row in df.itertuples(index=False, name=None)]


def oracle_compare(tables_dir, results_dir):
    """Returns {query name: None when equal, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in glob.glob(os.path.join(tables_dir, "*.parquet")):
        t = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    verdicts = {}
    for d in sorted(glob.glob(os.path.join(results_dir, "*", ""))):
        name = os.path.basename(d.rstrip("/"))
        tbl = pq.ParquetDataset(d).read()
        scols = tbl.column_names
        srows = _rows(tbl.to_pandas())
        if name not in oracle:
            verdicts[name] = None if srows else "empty result and no oracle"
            continue
        try:
            res = con.execute(oracle[name])
            ocols = [x[0] for x in res.description]
            orows = _rows(res.df())
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = f"oracle error: {e}"
            continue
        sc, sr = canon(srows, scols)
        oc, orr = canon(orows, ocols)
        if sc != oc:
            verdicts[name] = f"schema spark={sc} oracle={oc}"
        elif sr != orr:
            diff = [(a, b) for a, b in zip(sr, orr) if a != b][:2]
            verdicts[name] = f"values rows={len(sr)}/{len(orr)} first diffs {diff}"
        else:
            verdicts[name] = None
    con.close()
    return verdicts
