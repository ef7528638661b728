"""Output checks, run after the JVM exits (outside every timed window).

Each checker returns the set of op ids whose output was wrong, plus notes.
"""
import csv
import glob
import io
import json
import math
import os

import duckdb

BOM = b"\xef\xbb\xbf"
TRIP_HEADER = ["serialId", "date", "sale_price", "entry_number", "km_start",
               "km_return", "Total_KM", "Car_Num", "end_location", "Trip_Type",
               "num_locations"]
PAGE_COLUMNS = ("{serialId: 'BIGINT', confirm_status: 'BOOLEAN', "
                "sale_price: 'DOUBLE', date: 'VARCHAR', end_location: 'VARCHAR', "
                "km_start: 'VARCHAR', km_return: 'VARCHAR', car_number: 'VARCHAR', "
                "entry: 'STRUCT(number BIGINT)', station: 'STRUCT(name VARCHAR)'}")

# the relational half of the cycle's record transform, over raw pages
TRIP_SQL = """
WITH p AS (SELECT * FROM read_json('{pages}', format='array',
                                   columns={cols}))
SELECT serialId,
  coalesce(strftime(TRY_CAST(date AS TIMESTAMP), '%-m/%-d/%Y'), '') AS date,
  coalesce(sale_price, 0.0) AS sale_price,
  entry.number AS entry_number,
  coalesce(TRY_CAST(km_start AS BIGINT), 0) AS km_start,
  coalesce(TRY_CAST(km_return AS BIGINT), 0) AS km_return,
  CASE WHEN coalesce(TRY_CAST(km_start AS BIGINT), 0) > 0
        AND coalesce(TRY_CAST(km_return AS BIGINT), 0)
          > coalesce(TRY_CAST(km_start AS BIGINT), 0)
       THEN TRY_CAST(km_return AS BIGINT) - TRY_CAST(km_start AS BIGINT)
       ELSE 0 END AS Total_KM,
  CASE WHEN ltrim(regexp_replace(CASE WHEN car_number IS NULL
         OR car_number = 'nan' THEN '' ELSE car_number END,
         '[^\\p{{Nd}}]', '', 'g'), '0') = '' THEN 'No Plate'
       ELSE ltrim(regexp_replace(car_number, '[^\\p{{Nd}}]', '', 'g'), '0')
       END AS Car_Num,
  end_location AS raw_location
FROM p WHERE confirm_status ORDER BY serialId
"""


def _read_csv_dir(d):
    """(rows, problems) of one sink dir: every part file must start with
    the BOM and carry the header."""
    rows, problems = [], []
    parts = sorted(glob.glob(os.path.join(d, "part-*.csv")))
    if not parts:
        problems.append(f"{d}: no part files")
    for p in parts:
        with open(p, "rb") as f:
            raw = f.read()
        if not raw.startswith(BOM):
            problems.append(f"{p}: no BOM")
            continue
        reader = csv.reader(io.StringIO(raw[3:].decode("utf-8"), newline=""))
        header = next(reader, None)
        if header != TRIP_HEADER:
            problems.append(f"{p}: header {header}")
            continue
        rows.extend(reader)
    return rows, problems


def _num_eq(a, b):
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def check_trip_cycle(res, data):
    clean = {m["raw"]: m for m in res["facts"]["clean_api"]}
    out_dir = res["facts"]["out_dir"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    failed, notes = set(), []
    for o in res["outputs"]:
        cyc = os.path.join(data, "cycles", f"c{o['cycle']:04d}")
        with open(os.path.join(cyc, "truth.json"), encoding="utf-8") as f:
            truth = json.load(f)
        exp = con.sql(TRIP_SQL.format(pages=os.path.join(cyc, "page_*.json"),
                                      cols=PAGE_COLUMNS)).fetchall()
        got, problems = [], []
        for b in o["batches"]:
            r, p = _read_csv_dir(os.path.join(out_dir, b))
            got += r
            problems += p
        got.sort(key=lambda r: int(r[0]))
        if not o["batches"]:
            problems.append("no sink dir written")
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} vs {len(exp)}")
        for g, e in zip(got, exp):
            sid = e[0]
            c = clean.get(e[8])
            cls, main, _ = truth[str(sid)]
            try:
                rel_ok = (int(g[0]) == sid and g[1] == e[1]
                          and _num_eq(g[2], e[2])
                          and (g[3] == "" if e[3] is None else int(g[3]) == e[3])
                          and int(g[4]) == e[4] and int(g[5]) == e[5]
                          and int(g[6]) == e[6] and g[7] == e[7])
                loc_ok = c is not None and (g[8], g[9], int(g[10])) == (
                    c["main"], c["type"], c["n"]) and main in (None, g[8])
            except (ValueError, IndexError):  # a malformed CSV row
                rel_ok = loc_ok = False
            if not (rel_ok and loc_ok):
                problems.append(f"serialId {sid} ({cls}): got {g} want "
                                f"{list(e)} clean={c}")
                break
        if problems:
            failed.add(o["op"])
            notes.append(f"op {o['op']}: {problems[0]}")
    return failed, notes


def _compare(got, exp):
    """scripts/check.py's rule: columns sorted by name, positional rows,
    floats equal to 1e-12 relative."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    import numpy as np
    for c in got.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        try:
            if np.issubdtype(a.dtype, np.floating) and \
                    np.issubdtype(b.dtype, np.floating):
                if np.allclose(a.astype(float), b.astype(float), rtol=1e-12,
                               atol=0.0, equal_nan=True):
                    continue
            elif np.array_equal(a, b):
                continue
        except (TypeError, ValueError):
            pass
        for i in range(len(a)):
            x, y = a[i], b[i]
            if isinstance(x, np.ndarray) or isinstance(y, np.ndarray):
                if np.array_equal(np.asarray(x), np.asarray(y)):
                    continue
            elif (x is None and y is None) or x == y or str(x) == str(y):
                continue
            elif isinstance(x, float) and isinstance(y, float) and (
                    (math.isnan(x) and math.isnan(y)) or
                    abs(x - y) < 1e-12 * max(1.0, abs(x), abs(y))):
                continue
            return f"row {i} col {c}: {x!r} vs {y!r}"
    return None


def _check_oracle(res, table_dirs):
    """Queries checked against SparkEntry.oracleSql in DuckDB: the saved
    output of each (table dir, query) once, and every op by digest."""
    oracle = res["facts"]["oracle_sql"]
    failed, notes = set(), []
    good = {}  # (dir key, query) -> digest of the oracle-checked output
    for o in res["outputs"]:
        if "path" not in o:
            continue
        key = (o.get("shard", ""), o["query"])
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        d = table_dirs[key[0]]
        for t in ("part", "documents", "embeddings"):
            if os.path.exists(os.path.join(d, f"{t}.parquet")):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{d}/{t}.parquet'")
        try:
            got = con.sql(f"SELECT * FROM '{o['path']}/*.parquet'").df()
            exp = con.sql(oracle[o["query"]]).df()
            err = _compare(got, exp)
        except Exception as e:  # an oracle that cannot run is a failure
            err = f"oracle error {e}"
        if err is None:
            good[key] = o["digest"]
        else:
            notes.append(f"{o['query']} {key[0]}: {err}")
    for o in res["outputs"]:
        key = (o.get("shard", ""), o["query"])
        if good.get(key) != o["digest"]:
            failed.add(o["op"])
    return failed, notes


def check_dict_resolve(res, data):
    return _check_oracle(res, {"": data})


def check_corpus_curation(res, data):
    shards = {os.path.basename(d): d
              for d in glob.glob(os.path.join(data, "shards", "s*"))}
    return _check_oracle(res, shards)


def check_state_waves(res, data):
    f = res["facts"]
    notes = []
    if not f["survivors_match"]:
        notes.append("streamed survivors differ from batch keep-best")
    if not f["resolve_match"]:
        notes.append("streamed resolve differs from cold resolve")
    if f["clusters"] == 0:
        notes.append("no multi-doc cluster survived: duplicates not detected")
    ops = {o["op"] for o in res["outputs"]}
    return (ops if notes else set()), notes


CHECKS = {
    "trip_cycle": check_trip_cycle,
    "dict_resolve": check_dict_resolve,
    "corpus_curation": check_corpus_curation,
    "state_waves": check_state_waves,
}
