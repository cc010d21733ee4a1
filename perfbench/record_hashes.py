"""Record the expected result hash of each query_mix query.

    python3 perfbench/record_hashes.py

Runs each query's DuckDB oracle SQL over the tables in ``data/`` and
writes ``expected_hashes.json``, so that no benchmark run needs DuckDB.
Rerun it only when the data or the mix changes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import duckdb  # noqa: E402

from checks import result_hash  # noqa: E402
from harmony_spark.registry import load_all  # noqa: E402
from workloads import DATA_DIR, MIX, TABLES  # noqa: E402


def main() -> None:
    specs = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    hashes = {}
    for name in MIX:
        res = con.sql(specs[name].oracle)
        hashes[name] = result_hash(list(res.columns), res.fetchall())
        print(name, hashes[name])
    (HERE / "expected_hashes.json").write_text(json.dumps(hashes, indent=2) + "\n")


if __name__ == "__main__":
    main()
