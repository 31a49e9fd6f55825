#!/bin/bash
# One Bench sitting: record_bench.sh <sfDir> <out.json> [classesDir]
# Runs graft.Bench against <sfDir> with local[N] over this host's cores
# and a heap of half its RAM clamped to 2-8 GB (the Tier-1 test sizing;
# SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM override), writes the single JSON
# line to <out.json> (stderr to <out.json>.err). Runs in the checkout
# root, where graft.Bench finds the committed fixture store. Dev tooling.
set -e
SF=${1:?usage: record_bench.sh <sfDir> <out.json> [classesDir]}
OUT=${2:?usage: record_bench.sh <sfDir> <out.json> [classesDir]}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
SF=$(realpath "$SF")
CLASSES=$(realpath "${3:-$ROOT/target/scala-2.13/classes}")
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
AO="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED --add-opens=jdk.httpserver/sun.net.httpserver=ALL-UNNAMED"
(cd "$ROOT" && SPARK_GRAFT_SF_DIR="$SF" exec java $AO -Xmx$HEAP \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Bench) 2>"$OUT.err" \
  | grep -o '{"metric".*' > "$OUT"
