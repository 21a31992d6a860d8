#!/bin/bash
# r17 A/B (VERDICT r16 #1): the six above-band r16 bench rows —
# pbp01-04 (rr 1.92-2.19, adjacent in run order), v01 (2.24),
# v17 (1.91) — alternating same-host runs at the r15 commit (0c1330a,
# /tmp/r15wt) vs HEAD, j01 as the in-JVM contention control, the
# scripts/ab_r16_g08_v05_a18.log protocol. All six rows' files were
# untouched in r16; the hypothesis is the r15 precedent: an
# under-sampled host-contention window (pbp01-04 share one interleaved
# reference sample per pass).
set -e
SF=${1:-/root/testdata/sf0.1}
ROUNDS=${2:-5}
PASSES=${3:-3}
OUT=${4:-scripts/ab_r17_pbp_v01_v17.log}
QUERIES="j01_broadcast_chain pbp01_game_team_stats pbp02_classifier_flags pbp03_full_chain pbp04_game_team_stats v01_knn_bruteforce v17_graph_ann_beam"
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JARS=$(ls /opt/spark/jars/*.jar | tr '\n' ':')
# QueryAb sizes its session from SPARK_GRAFT_CPUS; the logged runs used 32 cores
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
: > "$OUT"
for r in $(seq 1 "$ROUNDS"); do
  for side in r15 head; do
    CP_DIR=$([ "$side" = r15 ] && echo /tmp/r15wt || echo /root/repo)
    echo "=== round $r side $side $(date +%T) ===" >> "$OUT"
    java $ADD_OPENS -Xmx16g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "$CP_DIR/target/scala-2.13/classes:$JARS" \
      graft.tools.QueryAb "$SF" "$PASSES" $QUERIES >> "$OUT" 2>/dev/null
  done
done
echo "done" >> "$OUT"
