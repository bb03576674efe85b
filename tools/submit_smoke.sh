#!/usr/bin/env bash
# spark-submit smoke for the PRODUCTION entry point (graft.Main): proves the
# end-to-end pipeline runs under a spark-submit-built session AND that the
# Catalyst extension (fused kernels) resolves there — closing the gap between
# "tested session config" (ScalaTest builds its own session) and the real
# submit path. Run from the repo root:
#   bash tools/submit_smoke.sh
set -euo pipefail
cd "$(dirname "$0")/.."
WORK="$(mktemp -d /tmp/graft-submit-XXXX)"
trap 'rm -rf "$WORK"' EXIT

sbt -batch package > "$WORK/package.log" 2>&1 || { tail -20 "$WORK/package.log"; exit 1; }
# the library jar, not the test-classes jar a forked Test/runMain leaves beside it
JAR="$(ls target/scala-2.13/logadempiricalspark_2.13-*.jar | grep -v -- '-tests\.jar$' | head -1)"

OUT="$("/opt/spark/bin/spark-submit" \
  --class graft.Main \
  --master 'local[4]' \
  --conf spark.sql.shuffle.partitions=4 \
  --conf spark.ui.enabled=false \
  "$JAR" "$WORK/run" 2>"$WORK/submit.log" | tail -1)" || {
    tail -30 "$WORK/submit.log"; exit 1; }

echo "submit output: $OUT"
case "$OUT" in
  *'"fused":true'*) echo "OK: fused kernels resolved under spark-submit" ;;
  *) echo "FAIL: extension did not resolve under spark-submit"; exit 1 ;;
esac
TURNS=$(printf '%s' "$OUT" | sed -n 's/.*"turns":\([0-9]*\).*/\1/p')
[ -n "$TURNS" ] && [ "$TURNS" -gt 0 ] || { echo "FAIL: no turns processed"; exit 1; }
echo "OK: $TURNS turns through the submit path"

# Second pass: SEPARATE executor JVMs (local-cluster). This catches what
# local[N] structurally cannot: closure/broadcast serialization across real
# process boundaries, the extension resolving inside worker-launched
# executors, netty shuffle between processes.
OUT2="$(SPARK_SCALA_VERSION=2.13 "/opt/spark/bin/spark-submit" \
  --class graft.Main \
  --master 'local-cluster[2,2,2048]' \
  --conf spark.sql.shuffle.partitions=4 \
  --conf spark.ui.enabled=false \
  --conf spark.executor.memory=1536m \
  "$JAR" "$WORK/run2" 2>"$WORK/submit2.log" | tail -1)" || {
    tail -30 "$WORK/submit2.log"; exit 1; }
echo "local-cluster output: $OUT2"
case "$OUT2" in
  *'"fused":true'*) echo "OK: fused kernels resolved across separate executor JVMs" ;;
  *) echo "FAIL: extension did not resolve under local-cluster"; exit 1 ;;
esac
# the whole result line must match the local[4] pass — turns, templates,
# windows, count_vector_rows and per-sink routes — all but the wall time
strip_time() { printf '%s' "$1" | sed 's/"pipeline_sec":[0-9.]*,//'; }
[ "$(strip_time "$OUT2")" = "$(strip_time "$OUT")" ] || {
  echo "FAIL: local-cluster result differs from local[4]"
  echo "  local[4]:      $(strip_time "$OUT")"
  echo "  local-cluster: $(strip_time "$OUT2")"
  exit 1; }
echo "OK: identical result ($TURNS turns, same templates, windows, count vectors and routes) through 2 separate executor JVMs"
