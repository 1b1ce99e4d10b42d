"""Output checks, run after the measured region.

Rows: each timed operation's collected result must equal its row's
oracle SQL (the program's own `SparkEntry.oracleSql`) run by DuckDB
over the same generated tables, under the repository's own comparison
(tools/selfcheck.py): columns by name, column type families (no
decimal or list columns), rows as sorted value tuples, floats at 9
decimals.

IMDB:
  K1  one True/False line per test movie (the file is ordered by
      tconst; the accuracy check below would collapse otherwise)
  K2  the written genre cache has unique tconst, contains the input
      cache, and grew by exactly the number of predictor calls
  accuracy of K1 against the held-back labels (rows sorted by tconst)
      is at least the floor in workloads.json
"""
import csv
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from selfcheck import TABLES, norm, type_check  # noqa: E402


def _sorted_rows(tbl, cols):
    return sorted(tuple(norm(v) for v in row)
                  for row in zip(*[tbl.column(c).to_pylist() for c in cols]))


def compare(name, spark_tbl, duck_tbl):
    """None when equal, else a one-line reason."""
    s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f"SCHEMA spark={s_cols} duck={d_cols}"
    terr = type_check(name, spark_tbl, duck_tbl)
    if terr:
        return terr
    s_rows, d_rows = _sorted_rows(spark_tbl, s_cols), _sorted_rows(duck_tbl, d_cols)
    if len(s_rows) != len(d_rows):
        return f"ROWCOUNT spark={len(s_rows)} duck={len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return f"VALUE row {i}: spark={a} duck={b}"
    return None


def check_rows(inputs, work, res):
    """Check every timed operation's collected result."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    oracle = res["oracle_sql"]
    status = {}
    for o in res["ops"]:
        r = o["name"]
        d = os.path.join(work, "rows", r)
        marker = os.path.join(d, "_FAILED.txt")
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if os.path.exists(marker):
            why = "FAILED: " + open(marker).read().strip()[:200]
        elif not files:
            why = "NO_OUTPUT"
        elif r not in oracle:
            why = "NO_ORACLE"
        else:
            try:
                expected = con.execute(oracle[r]).fetch_arrow_table()
                why = compare(r, pq.read_table(files[0]), expected) or "OK"
            except Exception as e:  # an oracle error fails the check too
                why = f"ORACLE_ERROR: {e}"[:300]
        status[r] = why
    failed = sorted(k for k, v in status.items() if v != "OK")
    return {"failed_ops": failed, "status": status,
            "summary": f"{len(status) - len(failed)}/{len(status)} row results "
                       f"match the oracle"}


def _read_lines(pattern):
    out = []
    for f in sorted(glob.glob(pattern)):
        with open(f, encoding="utf-8") as fh:
            out += [ln.rstrip("\n") for ln in fh]
    return out


def _csv_rows(pattern):
    rows = []
    for f in sorted(glob.glob(pattern)):
        with open(f, newline="", encoding="utf-8") as fh:
            rows += list(csv.DictReader(fh))
    return rows


def check_imdb(inputs, work, res, floor):
    with open(os.path.join(inputs, "heldout_labels.csv")) as fh:
        labels = [r["label"] for r in sorted(csv.DictReader(fh), key=lambda r: r["tconst"])]
    cache_in = {r["tconst"] for r in _csv_rows(os.path.join(inputs, "genre_cache.csv"))}
    calls = res["imdb"]["predictor_calls"]
    d = os.path.join(work, "imdb")
    why, acc = [], None
    preds = _read_lines(os.path.join(d, "predictions", "part-*"))
    if len(preds) != len(labels):
        why.append(f"K1 {len(preds)} lines for {len(labels)} test movies")
    elif any(x not in ("True", "False") for x in preds):
        why.append("K1 line other than True/False")
    else:
        acc = sum(a == b for a, b in zip(preds, labels)) / len(labels)
        if acc < floor:
            why.append(f"accuracy {acc:.4f} below floor {floor}")
    out = [r["tconst"] for r in _csv_rows(os.path.join(d, "genre_cache", "part-*.csv"))]
    out_set = set(out)
    if len(out) != len(out_set):
        why.append("K2 duplicate tconst")
    if not cache_in <= out_set:
        why.append("K2 lost input cache entries")
    grown = len(out_set) - len(cache_in)
    if grown != calls:
        why.append(f"K2 grew by {grown}, predictor calls {calls}")
    return {"failed": why, "accuracy": acc,
            "summary": "pipeline run " + ("fails: " + "; ".join(why) if why else
                                          f"passes K1/K2/accuracy (accuracy {acc:.4f})")}
