#!/usr/bin/env bash
# One-command local gate over a fresh graft.Verify run:
#
#   tools/gate.sh <sfDir>          (or set SPARK_GRAFT_SF_DIR)
#
#  1. `sbt runMain graft.Verify <sfDir> <out>` writes every query's result,
#     oracle_sql.json and plans.json;
#  2. tools/check.py compares each result with DuckDB (rows, schema, dtype);
#  3. tools/plancheck.py diffs plans.json against the committed PLANS.json;
#  4. the benchmark's own unit tests (perfbench/tests, no JVM, seconds).
#
# All four steps always run, so one pass reports every failure; the exit
# status is non-zero if any of them failed. Verify's output and every JVM,
# Spark and DuckDB temp file go to one fresh temp dir, removed on exit.
set -u

repo=$(cd "$(dirname "$0")/.." && pwd)
sf=${1:-${SPARK_GRAFT_SF_DIR:-}}
if [ -z "$sf" ] || [ ! -d "$sf" ]; then
  echo "usage: $0 <sfDir>   (a directory of the fixture parquet tables)" >&2
  exit 2
fi
sf=$(cd "$sf" && pwd)

tmp=$(mktemp -d "${TMPDIR:-/tmp}/graft-gate.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir -p "$tmp/jvm" "$tmp/spark-local"
out="$tmp/verify"

export TMPDIR="$tmp"
export SPARK_LOCAL_DIRS="$tmp/spark-local"
export SPARK_GRAFT_JVM_EXTRA="${SPARK_GRAFT_JVM_EXTRA:-} -Djava.io.tmpdir=$tmp/jvm"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
# half the machine's memory, clamped to [2g, 8g]
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
export COURSIER_MODE="${COURSIER_MODE:-offline}"
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.offline=true}"

status=0
cd "$repo"
echo "== graft.Verify $sf"
sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $sf $out" || status=1
echo "== tools/check.py"
python3 tools/check.py "$sf" "$out" || status=1
echo "== tools/plancheck.py"
python3 tools/plancheck.py "$out" PLANS.json || status=1
echo "== perfbench unit tests"
python3 -m unittest discover -s perfbench/tests || status=1

if [ "$status" -eq 0 ]; then echo "gate: PASS"; else echo "gate: FAIL"; fi
exit "$status"
