"""DuckDB oracle check of the registry outputs a run wrote.

Runs the repository's own compare (`scripts/compare.py`): each query's
`SparkEntry.oracleSql` in DuckDB over the same input tables against the
Spark output the run wrote, under the registry's compare rules. On top of
that it checks that every timed execution returned the written row count.
"""
import json
import re
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

COMPARE = Path("scripts") / "compare.py"
LINE = re.compile(r"^(\w+): (.*)$")


def check(data_dir, check_dir):
    """Return [(check name, ok, detail)] for every query the run wrote."""
    names = sorted(json.loads((Path(check_dir) / "oracle_sql.json").read_text()))
    timed_rows = json.loads((Path(check_dir) / "timed_rows.json").read_text())
    out = []
    for name in names:
        files = sorted((Path(check_dir) / name).glob("*.parquet"))
        written = sum(pq.read_metadata(f).num_rows for f in files) if files else None
        # every timed execution returned the row count recorded for the query
        if name in timed_rows:
            out.append((f"rows.{name}", timed_rows[name] == written,
                        f"timed={timed_rows[name]} written={written}"))
    p = subprocess.run([sys.executable, str(COMPARE), str(data_dir), str(check_dir), ",".join(names)],
                       capture_output=True, text=True, timeout=120)
    verdicts = {m[1]: m[2] for m in map(LINE.match, p.stdout.splitlines()) if m}
    for name in names:
        v = verdicts.get(name, f"no verdict (compare exited {p.returncode}: {p.stderr.strip()[-300:]})")
        out.append((f"oracle.{name}", v.startswith("OK"), v))
    return out
