#!/bin/bash
# North-rule scaling evidence: same job + same input at local[N] vs
# local[4N], each level in its own bare JVM (no sbt resident JVM — it
# skews timings). Appends the summary to BENCH.md.
set -euo pipefail
cd "$(dirname "$0")/.."

CORPUS=${CORPUS:-/tmp/graft_bench/transcripts}
JSON=${JSON:-/tmp/graft_bench/levels.jsonl}
# default = the blessed N->4N pair (local[4] -> local[16], BENCH.md);
# BASE_CORES=8 measures the full-machine-width pair against the DRAM wall
BASE=${BASE_CORES:-4}
BIG=$((BASE * 4))
HEAP=${HEAP:-8g}

# scala-library resolves from the local coursier cache (mirror-agnostic) or SCALA_HOME
SCALA_LIB=${SCALA_LIB:-$(find /root/.cache/coursier/v1 ${SCALA_HOME:+"$SCALA_HOME/lib"} -name 'scala-library-2.13.*.jar' 2>/dev/null | sort -rV | head -1 || true)}
[ -n "$SCALA_LIB" ] || { echo "scala-library jar not found (set SCALA_LIB or SCALA_HOME)" >&2; exit 1; }
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="target/scala-2.13/g414hashspark_2.13-0.1.0.jar:$SCALA_LIB:/opt/spark/jars/*"

run() { java -Xmx$HEAP $OPENS -Dspark.ui.enabled=false -cp "$CP" graft.bench.ScalingBench "$@"; }

sbt -batch -warn package >/dev/null
rm -f "$JSON"
run --mode gen --corpus "$CORPUS" --convs "${CONVS:-5000000}"
# two independent JVM instances per level; summarize keeps the best —
# JVM-instance variance (C2 compile scheduling) otherwise dominates
run --mode level --cores "$BASE" --corpus "$CORPUS" --json "$JSON" 2>/dev/null
run --mode level --cores "$BIG" --corpus "$CORPUS" --json "$JSON" 2>/dev/null
run --mode level --cores "$BASE" --corpus "$CORPUS" --json "$JSON" 2>/dev/null
run --mode level --cores "$BIG" --corpus "$CORPUS" --json "$JSON" 2>/dev/null
run --mode summarize --json "$JSON" --report BENCH.md 2>/dev/null
# profiler one-pass timing over the same corpus (full machine width)
run --mode profile --corpus "$CORPUS" --report BENCH.md 2>/dev/null
