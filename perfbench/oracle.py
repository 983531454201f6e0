"""DuckDB side of the analytics answer check, run as a child process so
that DuckDB's memory stays out of the benchmark driver's resident set.

    python3 perfbench/oracle.py SF_DIR STAGE FIXED_STAGE NAME...

For each named query with a DuckDB twin in ``__spark_entry__.oracle_sql()``
(its ``FIXED_STAGE`` scratch path replaced by ``STAGE``), prints one JSON
line ``{"name", "columns", "rows", "hash"}``, the hash being
``tools/check_oracle.py``'s order-insensitive one.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import __spark_entry__ as entry  # noqa: E402
import check_oracle  # noqa: E402


def main() -> None:
    sf_dir, stage, fixed_stage, *names = sys.argv[1:]
    oracles = entry.oracle_sql()
    con = check_oracle.duckdb_con(sf_dir)
    for n in names:
        if n not in oracles:
            continue
        res = con.execute(oracles[n].replace(fixed_stage, stage))
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        print(json.dumps({"name": n, "columns": cols, "rows": len(rows),
                          "hash": check_oracle.table_hash(cols, rows)}), flush=True)
    con.close()


if __name__ == "__main__":
    main()
