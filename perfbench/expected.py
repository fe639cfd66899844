"""Regenerates `expected_counts.json`: the row count every timed query
must return on the benchmark's data. The count comes from DuckDB
running the program's own oracle SQL (`SparkEntry.oracleSql`) on the
same parquet files; a query without oracle SQL (q30, rows-only by
design) takes the count the program returns, and is marked so.

Usage: python3 perfbench/expected.py   (from the root of a checkout)
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from run import DATA, EXPECTED, WORKLOADS  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    names = sorted(n for qs in WORKLOADS.values() if qs for n in qs)
    classes = build.build()
    tmp = tempfile.mkdtemp(dir=build.BUILD)
    try:
        cmd = build.java_command(classes, "perfbench.OracleDump")
        cmd.insert(1, "-Djava.io.tmpdir=" + tmp)
        out = subprocess.run(cmd + [DATA, ",".join(names)], check=True,
                             stdout=subprocess.PIPE, text=True).stdout
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    dump = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, DATA, t))
    counts = {}
    for n, sql in sorted(dump["oracle"].items()):
        rows = con.execute("SELECT count(*) FROM (%s) AS q" % sql).fetchone()[0]
        counts[n] = {"rows": rows, "source": "duckdb %s on the oracle SQL" % duckdb.__version__}
    for n, rows in sorted(dump["program"].items()):
        counts[n] = {"rows": rows, "source": "program (no oracle SQL)"}
    with open(EXPECTED, "w") as fh:
        json.dump({"data": os.path.relpath(DATA), "counts": counts}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(counts, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
