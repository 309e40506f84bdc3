#!/usr/bin/env bash
# Pre-submit check: lists src/main files nothing references,
# greps src/ for session builders and listeners outside graft.Harness and
# graft.QueryTally, then runs
# graft.Verify + the DuckDB oracle compare (tools/check_oracle.py) at all
# three scale factors — the same pipeline the round driver and the judge
# run. Use before every commit that touches a query or its oracle SQL.
#
#   tools/precheck.sh [sf ...]     # default: 0.001 0.01 0.1
set -euo pipefail
cd "$(dirname "$0")/.."
# Reachability: a src/main file none of whose top-level object, class or
# trait names appears in the code (comments stripped, strings kept) of
# another src/main or perfbench/scala file is reached by no lane, entry
# point or benchmark, only by its own spec. Files with a `def main` are
# launched, not referenced. Like the grep below, this needs no JVM.
unreached=$(python3 - <<'EOF'
import pathlib, re
strip = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')
decl = re.compile(r"^(?:(?:private|protected)(?:\[\w+\])?\s+|(?:final|sealed|abstract|case|implicit|package)\s+)*"
                  r"(?:object|class|trait)\s+(\w+)", re.M)
files = sorted(pathlib.Path("src/main").rglob("*.scala")) + sorted(pathlib.Path("perfbench/scala").rglob("*.scala"))
code = {f: strip.sub(lambda m: m.group() if m.group()[0] in "\"'" else " ", f.read_text()) for f in files}
words = {f: set(re.findall(r"\w+", c)) for f, c in code.items()}
for f in files:
    if f.parts[0] == "src" and not re.search(r"\bdef main\b", code[f]):
        names = set(decl.findall(code[f]))
        if not any(names & w for g, w in words.items() if g != f):
            print(f)
EOF
)
if [ -n "$unreached" ]; then
  echo "src/main files no other src/main or perfbench/scala code references:" $unreached
  exit 1
fi
# One session builder (graft.Harness) and one listener (graft.QueryTally):
# a builder or listener anywhere else in src/ is drift, caught before any
# JVM starts.
drift=$(grep -rlE 'SparkSession\.builder|extends SparkListener|new SparkListener' src \
  | grep -vxE 'src/main/scala/graft/(Harness|QueryTally)\.scala' || true)
if [ -n "$drift" ]; then
  echo "session builder or SparkListener outside Harness.scala/QueryTally.scala:" $drift
  exit 1
fi
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
