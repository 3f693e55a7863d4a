#!/usr/bin/env bash
# Pre-snapshot gate (VERDICT r3 process fix): run this before ending a
# round.  An ENVIRONMENT change (e.g. a fixture's physical parquet type
# shifting under us) can invalidate old green rows without any code
# change — the only thing that catches that is re-running the full local
# gate, not the _FORCE_RECHECK rotation.
#
#   1. full pytest          (operator semantics + plan shapes + parity @ sf0.001)
#   2. full oracle sweep    (every registered query vs DuckDB @ sf0.01 — driver scale)
#   3. bench                (must exit 0 and print its JSON line)
#   4. perfbench self-test  (seed determinism, tracer restore, every
#                            BENCHMARK.json metric printed with its unit)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight 1/4: pytest =="
python -m pytest tests/ -q

echo "== preflight 2/4: full oracle sweep @ sf0.01 =="
python scripts/check_oracle.py /root/testdata/sf0.01

echo "== preflight 3/4: bench =="
python bench.py

echo "== preflight 4/4: perfbench self-test =="
python3 perfbench/selftest.py

echo "== preflight OK =="
