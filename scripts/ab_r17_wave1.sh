#!/bin/bash
# r17 wave-1 A/B: after the wave-1 optimizations the subset bench showed
# big wins on touched families (st18 -3.5s, v14 -3.2s, walks -1.2..-1.5)
# but a tail of UNTOUCHED rows drifted up (st16 +0.84, st11 +0.77,
# g08 +0.65, d08/d03/gr01/d07 +0.3..0.45) while the interleaved
# reference itself slowed 4% — the r15/r16 contention-window signature.
# Alternating same-host runs at the wave-1 commit vs the baseline commit
# (a2b57f6, /tmp/r17base), j01 as the in-JVM control, the
# scripts/ab_r16_g08_v05_a18.log protocol: if the regressions are real
# they survive interleaving; if they are host drift the ratio of
# medians normalizes to ~1.
set -e
SF=${1:-/root/testdata/sf0.1}
ROUNDS=${2:-5}
PASSES=${3:-3}
OUT=${4:-scripts/ab_r17_wave1.log}
QUERIES="j01_broadcast_chain st16_streaming_decontamination st11_incremental_join_view g08_gold_runner d08_setsim_prefix_join d03_simhash gr01_triangle_count v21_refined_adc_serving st18_streaming_knn_graph v14_knn_graph v22_vamana_walk_serving"
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JARS=$(ls /opt/spark/jars/*.jar | tr '\n' ':')
# QueryAb sizes its session from SPARK_GRAFT_CPUS; the logged runs used 32 cores
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
: > "$OUT"
for r in $(seq 1 "$ROUNDS"); do
  for side in base head; do
    CP_DIR=$([ "$side" = base ] && echo /tmp/r17base || echo /root/repo)
    echo "=== round $r side $side $(date +%T) ===" >> "$OUT"
    java $ADD_OPENS -Xmx16g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "$CP_DIR/target/scala-2.13/classes:$JARS" \
      graft.tools.QueryAb "$SF" "$PASSES" $QUERIES >> "$OUT" 2>/dev/null
  done
done
echo "done" >> "$OUT"
