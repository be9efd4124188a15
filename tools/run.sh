#!/bin/bash
# Run a graft main class with a raw java invocation (no sbt), so JVM flags
# can be varied per experiment. Compile first (sbt compile).
#
# Usage: tools/run.sh [extra JVM flags...] <MainClass> [args...]
#   tools/run.sh graft.Bench > bench.log 2>&1
#   tools/run.sh -XX:+UseParallelGC graft.QBench tpch_q3 5
#   tools/run.sh graft.Verify <sfDir> <outDir> [keyCsv]
#   tools/run.sh graft.ScaleBench 30 tpch_q3
#
# The heap is SPARK_DRIVER_MEM (default 48g), as in build.sbt; the Spark
# jar directory (unmanagedBase) and the --add-opens list (jdk17AddOpens)
# are read from build.sbt. The mains read SPARK_GRAFT_SF_DIR and
# SPARK_GRAFT_CPUS themselves.
set -eu
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
FLAGS=()
while [ $# -gt 0 ] && [ "${1#-}" != "$1" ]; do FLAGS+=("$1"); shift; done
if [ $# -eq 0 ]; then
  echo "usage: $0 [extra JVM flags...] <MainClass> [args...]" >&2
  exit 2
fi
MAIN="$1"; shift
OPENS=()
for p in $(sed -n '/^val jdk17AddOpens = Seq(/,/^)/p' "$ROOT/build.sbt" \
    | grep -o '"java\.base/[^"]*"' | tr -d '"'); do
  OPENS+=(--add-opens "$p=ALL-UNNAMED")
done
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
CP="$ROOT/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
exec java "${OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-48g}" \
  "${FLAGS[@]}" \
  -cp "$CP" "$MAIN" "$@"
