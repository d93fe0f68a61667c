#!/bin/bash
# Probe-gated heavy-tail SCALING sample (bench/history/BENCH_rounds_1-7.md
# §Round-6): times q25/q26/q27/q53/q57 at sf0.1 and at the 10x corpus
# built by graft.ScaleFixture (disjoint-vocabulary replicas -> dup
# density and candidate-pair counts scale linearly, the representative
# experiment). Launches only when busy-probe hypervisor steal is <1.5%;
# each sf runs in its own JVM at local[nproc], timing each query twice
# with `graft.Bench queries`. Heap: SPARK_DRIVER_MEM, else half of
# MemTotal clamped to [2, 8] GB (the rule build.sbt applies).
# Usage: tools/tail_sample.sh [max_wait_minutes]
set -e
cd "$(dirname "$0")/.."
MAX_MIN="${1:-30}"
DEADLINE=$(( $(date +%s) + MAX_MIN * 60 ))
NCPU=$(nproc)
SF1=${SF1_DIR:-/tmp/graft-sf1}
QUERIES="q25_ngram_jaccard q26_dedup_minhash_lsh q27_dedup_simhash q53_corpus_pipeline q57_dup_clusters"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} \
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
JAVA="java -Xmx$HEAP $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp target/scala-2.13/classes:/opt/spark/jars/*"

# _SUCCESS marker, not the directory: a killed builder leaves a partial
# dir that would silently benchmark a truncated corpus
if [ ! -f "$SF1/documents.parquet/_SUCCESS" ]; then
  echo "[tail] building 10x fixture at $SF1"
  rm -rf "$SF1/documents.parquet"
  $JAVA graft.ScaleFixture /root/testdata/sf0.1 "$SF1" 10
fi

while :; do
  s1=$(awk '/^cpu /{print $9}' /proc/stat)
  for _ in $(seq "$NCPU"); do timeout 5 sh -c 'while :; do :; done' & done
  wait
  s2=$(awk '/^cpu /{print $9}' /proc/stat)
  ST=$((s2 - s1))
  echo "[quiet] $(date +%T) busy-probe steal ticks over 5s x $NCPU cores: $ST"
  if [ "$ST" -lt $((NCPU * 500 * 15 / 1000)) ]; then
    echo "[tail] host quiet -> sampling (probe=$ST)"
    echo "== sf0.1 =="
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=$NCPU \
      $JAVA graft.Bench queries --repeats 2 $QUERIES
    echo "== sf1 (10x) =="
    SPARK_GRAFT_SF_DIR="$SF1" SPARK_GRAFT_CPUS=$NCPU \
      $JAVA graft.Bench queries --repeats 2 $QUERIES
    exit 0
  fi
  if [ "$(date +%s)" -gt "$DEADLINE" ]; then
    echo "[tail] gave up after $MAX_MIN min (steal stayed high)"
    exit 1
  fi
  sleep 45
done
