#!/bin/bash
# Scale evidence for the heavy dedup/CC/ANN family (VERDICT r4 next #1):
# the same queries at 1x and >=10x the sf0.1 row counts over DocCorpusGen
# corpora, each level in its own bare JVM; per-query wall/shuffle/spill/
# skew land in $JSON for the BENCH.md section.
set -euo pipefail
cd "$(dirname "$0")/.."

ROOT=${ROOT:-/tmp/graft_scale}
JSON=${JSON:-$ROOT/scale_evidence.jsonl}
HEAP=${HEAP:-48g}
QUERIES=${QUERIES:-ngram_jaccard_dups,dedup_clusters,duplicate_spans,substring_scrub,line_dedup,minhash_near_dups,simhash_near_dups,embedding_near_dups,semantic_dedup}

SCALA_LIB=${SCALA_LIB:-$(find /root/.cache/coursier/v1 ${SCALA_HOME:+"$SCALA_HOME/lib"} -name 'scala-library-2.13.*.jar' 2>/dev/null | sort -rV | head -1 || true)}
[ -n "$SCALA_LIB" ] || { echo "scala-library jar not found" >&2; exit 1; }
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="target/scala-2.13/g414hashspark_2.13-0.1.0.jar:$SCALA_LIB:/opt/spark/jars/*"

run() { java -Xmx$HEAP $OPENS -Dspark.ui.enabled=false -cp "$CP" "$@"; }

sbt -batch -warn package >/dev/null

# 1x = the sf0.1 shape (5k docs / 2k vecs); 10x; optional 100x via MULTS
for M in ${MULTS:-1 10}; do
  run graft.bench.ScaleEvidence --mode gen --out "$ROOT/m$M" --docs $((5000 * M)) --vecs $((2000 * M))
done
for M in ${MULTS:-1 10}; do
  # stderr to a per-level log, NOT /dev/null: under set -e a failing
  # query would otherwise abort the run with the diagnostic discarded
  run graft.bench.Probe time --dir "$ROOT/m$M" ${CORES:+--cores "$CORES"} --keys "$QUERIES" --json "$JSON" 2>"$ROOT/m$M.err"
done
echo "wrote $JSON"
