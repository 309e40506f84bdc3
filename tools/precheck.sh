#!/usr/bin/env bash
# Driver-parity pre-submit check: runs graft.Verify + the DuckDB oracle
# compare (tools/check_oracle.py) at all three scale factors — the same
# pipeline the round driver and the judge run. Use before every commit
# that touches a query or its oracle SQL.
#
#   tools/precheck.sh [sf ...]     # default: 0.001 0.01 0.1
set -euo pipefail
cd "$(dirname "$0")/.."
sfs=("$@")
[ ${#sfs[@]} -eq 0 ] && sfs=(0.001 0.01 0.1)
fail=0
for sf in "${sfs[@]}"; do
  out="/tmp/precheck_sf$sf"
  echo "== sf$sf: Verify -> $out"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" sbt -batch \
    "runMain graft.Verify /root/testdata/sf$sf $out" > "/tmp/precheck_sf$sf.log" 2>&1 \
    || { echo "VERIFY FAILED at sf$sf (see /tmp/precheck_sf$sf.log)"; fail=1; continue; }
  n_warn=$(grep -c "No Partition Defined" "/tmp/precheck_sf$sf.log" || true)
  [ "$n_warn" != "0" ] && echo "WARNING: $n_warn no-partition window warnings at sf$sf"
  echo "== sf$sf: DuckDB oracle"
  python3 tools/check_oracle.py "/root/testdata/sf$sf" "$out" | tail -1 || fail=1
done
exit $fail
