#!/bin/bash
# Records QUADSCALE_r14.json in disk-bounded stages: each invocation
# emits one {"metric":"quadscale","sizes":[...]} line; stages delete
# their stores before the next so the 128M tiers (~50 GB each) never
# coexist. Usage: tools/record_quadscale.sh <outPrefix>
# Stages:
#   1. uniform 1M,8M,32M (fresh)            -> stage1.json
#   2. skew    1M,8M,32M (fresh)            -> stage2.json
#   3. uniform 128M fresh, then WARM sitting -> stage3a/3b.json
#   4. pressure 128M fresh @28g, then WARM @6g -> stage4a/4b.json
set -e
OUT=${1:?usage: record_quadscale.sh <outPrefix>}
BASE=$(mktemp -d /tmp/graft-qs14-XXXX)
CP="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:/opt/spark/jars/*"
AO="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED --add-opens=jdk.httpserver/sun.net.httpserver=ALL-UNNAMED"
run() { # run <xmx> <targets> <modes> <outfile>
  java $AO -Xmx$1 -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" graft.QuadScale "$2" "$BASE" "$3" > "$4" 2>>"$OUT.err"
}
echo "== stage 1: uniform 1M,8M,32M" >&2
run 28g 1000000,8000000,32000000 uniform "$OUT.stage1.json"
rm -rf "$BASE"/flat_uniform_* "$BASE"/idx_uniform_*
echo "== stage 2: skew 1M,8M,32M" >&2
run 28g 1000000,8000000,32000000 skew "$OUT.stage2.json"
rm -rf "$BASE"/flat_skew_* "$BASE"/idx_skew_*
echo "== stage 3: uniform 128M fresh + warm" >&2
run 28g 128000000 uniform "$OUT.stage3a.json"
run 28g 128000000 uniform "$OUT.stage3b.json"
rm -rf "$BASE"/flat_uniform_* "$BASE"/idx_uniform_*
echo "== stage 4: pressure 128M fresh @28g + constrained @6g" >&2
run 28g 128000000 pressure "$OUT.stage4a.json"
# flat copy not needed for the query-only constrained sitting
rm -rf "$BASE"/flat_pressure_*
run 6g 128000000 pressure "$OUT.stage4b.json"
rm -rf "$BASE"
echo "== done; merge stages into QUADSCALE_r14.json" >&2
