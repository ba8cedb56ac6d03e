#!/usr/bin/env python3
"""Re-pin perfbench/digests.json: run each query_mix query's DuckDB oracle
SQL over the benchmark's query data and store its canonical digest.

    python3 perfbench/pin_digests.py      (from the repository root)

Only needed when the query list, an oracle, or the data changes."""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import digest  # noqa: E402
import run  # noqa: E402

classes = run.build()
out = os.path.join(run.BUILD, "oracle_sql.json")
cmd = run.java_cmd(classes, os.path.join(run.BUILD, "work", "pin"), [out],
                   main="perfbench.DumpOracle")
subprocess.run(cmd, check=True, stdout=sys.stderr)
oracle = json.load(open(out))
digest.con(run.QUERY_DATA)
pins = {n: digest.sql_digest(sql) for n, sql in sorted(oracle.items())}
with open(os.path.join(run.HERE, "digests.json"), "w") as f:
    json.dump(pins, f, indent=1, sort_keys=True)
    f.write("\n")
print(f"pinned {len(pins)} digests")
