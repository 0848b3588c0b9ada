"""Output checks, run after the timed window.

corpus_web: every query's rows, as the benchmark
dumped them, are compared as unordered multisets with the query's
`SparkEntry.oracleSql` run in DuckDB over the generated tables (columns
sorted by name, cells compared exactly; the program rounds on both
sides).

olhovivo_day: EP2's row count must equal the generated observation
count, and tools/dayscale_check.py replays EP3 in DuckDB over EP2's
positions and compares the three CSV outputs with its tolerances.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb


def _rows(table):
    cols = sorted(table.column_names)
    return cols, sorted(tuple(repr(r[c]) for c in cols) for r in table.to_pylist())


def check_queries(data_dir, out_dir):
    """Return {query: None if it matches its oracle, else a reason}."""
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    result = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            result[name] = "no output"
            continue
        gcols, grows = _rows(con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table())
        try:
            ecols, erows = _rows(con.execute(sql).fetch_arrow_table())
        except duckdb.Error as e:
            result[name] = f"oracle error: {e}"
            continue
        if gcols != ecols:
            result[name] = f"columns {gcols} != {ecols}"
        elif grows != erows:
            result[name] = f"{len(grows)} rows vs oracle {len(erows)}"
        else:
            result[name] = None
    return result


def check_olhovivo(work_dir, observations, ep2_rows, day):
    """Return {"ep2": reason|None, "ep3": reason|None}."""
    ep2 = None if ep2_rows == observations else f"EP2 wrote {ep2_rows} rows, expected {observations}"
    tool = os.path.join("tools", "dayscale_check.py")
    p = subprocess.run([sys.executable, tool, work_dir, day, "--skip-strict"],
                       capture_output=True, text=True, timeout=120)
    ep3 = None if p.returncode == 0 else "; ".join(
        l for l in p.stdout.splitlines() if l.startswith("FAIL"))[:500] or p.stderr[-500:]
    return {"ep2": ep2, "ep3": ep3}
