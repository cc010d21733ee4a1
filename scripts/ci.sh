#!/usr/bin/env bash
# Full local gate: compile, the entry run, test suite at sf0.001,
# benchmark helper tests, oracle sweep and shared-build memo parity at
# the driver's sf0.01, and the bench contract.
# Mirrors the tier-1 list in ROADMAP.md.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compile =="
python -m compileall -q harmony_spark __spark_entry__.py

echo "== entry run (flagship query on sf0.001 must return rows) =="
python -c "
import __spark_entry__ as E
from harmony_spark.session import get_spark
n = E.entry(get_spark('ci-entry')).count()
assert n > 0, 'entry returned no rows'
print(f'entry OK: {n} rows')"

echo "== pytest (sf0.001 fixtures + unit/property/plan/streaming) =="
python -m pytest tests/ -q

echo "== pytest (benchmark helpers) =="
python -m pytest perfbench -q

echo "== oracle sweep at sf0.01 (the driver's correctness SF) =="
HARMONY_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_queries.py -q

echo "== shared-build memo-on/off parity at sf0.01 =="
HARMONY_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_io_cache.py -q

echo "== bench contract (one JSON line) =="
python bench.py 2>/dev/null | python -c "
import json, sys
d = json.load(sys.stdin)
assert {'metric','value','unit','queries','sf'} <= set(d), d.keys()
print(f'bench OK: {d[\"value\"]}s over {len(d[\"queries\"])} queries at sf={d[\"sf\"]}')"
