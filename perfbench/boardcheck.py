"""Content check of the board rows.

Each row's output is compared with its DuckDB oracle SQL run over the same
generated tables, in the canonical form and with the hash of the
repository's oracle comparison (`tools/compare.py`): columns by name, rows
sorted by every column, temporal columns as naive microsecond datetimes,
then a pandas hash, so a change of value or of column type shows. A row
without oracle SQL, or whose output the comparison cannot hash, fails the
check.
"""
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import canon, frame_hash  # noqa: E402


def digest(df):
    df = canon(df)
    types = ",".join(f"{c}:{df[c].dtype}" for c in df.columns)
    return f"{len(df)}|{types}|{int(frame_hash(df))}"


def outputs(dump):
    return sorted(d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d)))


def check(dump):
    """Problems found in the rows dumped under `dump`; empty when all agree."""
    fixtures = open(os.path.join(dump, "fixtures_dir.txt")).read().strip()
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    con = duckdb.connect()
    for d in os.listdir(fixtures):
        t = d.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{d}/*.parquet'")
    problems = []
    for row in outputs(dump):
        if row not in oracle:
            problems.append(f"{row}: no oracle SQL")
            continue
        try:
            got = digest(pq.read_table(os.path.join(dump, row)).to_pandas())
        except Exception as e:  # unhashable cells fail, as in the oracle comparison
            problems.append(f"{row}: output cannot be compared: {type(e).__name__}: {e}")
            continue
        try:
            want = digest(con.sql(oracle[row]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{row}: oracle failed: {e}")
            continue
        if got != want:
            problems.append(f"{row}: output {got} differs from expected {want}")
    return problems
