#!/usr/bin/env bash
# Close-of-round gate: the full pytest profile (slow tests included), DuckDB
# oracle parity of every inventory entry at sf0.01 and sf0.001, and the
# inventory-wide window-plan audit. Prints how many tests the default
# profile (pytest.ini: -m "not slow") deselects. Exits non-zero if any step
# fails; every step runs regardless.
#
#   tools/gate.sh TESTDATA_DIR    (the directory holding sf0.01/ and sf0.001/)
set -u
data="${1:?usage: tools/gate.sh TESTDATA_DIR (holding sf0.01/ and sf0.001/)}"
cd "$(dirname "$0")/.."
export PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
export SPARK_GRAFT_TEST_SF_DIR="$data/sf0.001"
rc=0
step() { echo "== $*"; "$@" || { echo "== FAILED: $*"; rc=1; }; }

echo "== default profile: $(python -m pytest tests/ --collect-only -q -p no:cacheprovider 2>/dev/null | grep -Eo '[0-9]+ deselected' || echo '0 deselected')"
step python -m pytest tests/ -q -p no:cacheprovider -m "slow or not slow"
for sf in sf0.01 sf0.001; do
  SPARK_GRAFT_ORACLE_SF_DIR="$data/$sf" step python tools/check_oracle.py
done
step python tools/audit_window_plans.py "$data/sf0.001"
echo "== gate: $([ $rc -eq 0 ] && echo PASS || echo FAIL)"
exit $rc
