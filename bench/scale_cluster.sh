#!/usr/bin/env bash
# TRUE N-vs-4N EXECUTOR scaling evidence: a local standalone master plus
# 1 (N) or 4 (4N) worker JVMs, each worker pinned to its own disjoint
# 4-core set and spawning ONE executor JVM with its own fixed-size heap.
#
# Why this beats a local[N]-vs-local[4N] emulation in one JVM:
#   - Real clusters scale OUT: 4N executors bring 4x heaps along with 4x
#     cores. One taskset-pinned local[16] JVM with the same 16g heap as
#     the local[4] run under-provisions memory 4x at the wide level, so
#     part of the measured "inefficiency" is GC pressure the real
#     cluster would never see (observed: up to 884s GC in one 16-core
#     sample vs 71s at 4 cores on identical work).
#   - Executor JVMs are separate processes with separate GC, JIT and
#     netty pools, shuffling over real sockets + disk like a cluster
#     (local mode shuffles in-process).
#   - The driver runs on its OWN pinned cores at BOTH levels (a real
#     cluster's driver is not one of the N executors), so driver-side
#     serial work no longer steals executor cores from the narrow level.
#
# Topology per level (32-core box):
#   driver:   cores 28-29, 4g     master: core 30, 1g (idle at runtime)
#   N=1:      worker/executor on cores 0-3,   4g heap
#   4N=4:     workers/executors on 0-3, 4-7, 8-11, 12-15, 4g heap EACH
# Interleaved lo,hi,lo,hi so both levels
# sample the same host-noise phases; best (min total_sec) per level.
#
# Executor JVMs run -Xms=-Xmx -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages.
# NOT optional on this box: its anon-page first-touch path runs at ~30 MB/s
# per thread for 4 KB pages, so a lazily-committed heap faults in DURING the
# measured work, in kernel mode, 4x more of it at the wide level — the
# round-3..5 "noise storms" were mostly this (BENCH/BASELINE.md round 5).
# THP's 2 MB pages fault 6x faster and pre-touch moves the cost before
# executor registration (the driver waits via minRegisteredResourcesRatio).
#
# Usage: bench/scale_cluster.sh [entities] [reps]
set -euo pipefail
cd "$(dirname "$0")/.."

# The topology pins JVMs to cores 0-15 and 28-30: on a smaller host
# taskset fails, so stop before any JVM starts.
if [ "$(nproc)" -lt 31 ]; then
  echo "scale_cluster.sh: needs a host with 31+ cores (JVMs pinned to cores 0-15 and 28-30); this one has $(nproc)" >&2
  exit 1
fi

ENTITIES="${1:-200000}"
REPS="${2:-2}"
WARMUP=20000
EXEC_HEAP=4g
MASTER_PORT=7077
MASTER_URL="spark://127.0.0.1:$MASTER_PORT"

CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

# Refuse to run against stale daemons: an orphaned master keeps port 7077
# while this script's new master silently binds 7078 (spark.port.maxRetries),
# so the workers and driver join the STALE master and its leftover executors
# inflate a level (observed: a "1-worker" level running on 20 cores,
# cpu_util 1.9 — the row is garbage and looks like superlinear scaling).
if pgrep -f "^(java|taskset).*org.apache.spark.deploy" >/dev/null; then
  echo "stale Spark master/worker daemons running — kill them first:" >&2
  pgrep -af "^(java|taskset).*org.apache.spark.deploy" >&2
  exit 1
fi

mkdir -p /dev/shm/spark-local /tmp/spark-cluster
PIDS=()

cleanup() {
  for p in "${PIDS[@]:-}"; do kill "$p" 2>/dev/null || true; done
  sleep 1
  for p in "${PIDS[@]:-}"; do kill -9 "$p" 2>/dev/null || true; done
  PIDS=()
}
trap cleanup EXIT

start_master() {
  taskset -c 30 java $ADD_OPENS -Xmx1g -cp "/opt/spark/jars/*" \
    -Dspark.master.rest.enabled=false \
    org.apache.spark.deploy.master.Master \
    --host 127.0.0.1 --port "$MASTER_PORT" --webui-port 8090 \
    > /tmp/spark-cluster/master.log 2>&1 &
  PIDS+=($!)
  # wait for the master to accept registrations
  for _ in $(seq 1 30); do
    grep -q "I have been elected leader" /tmp/spark-cluster/master.log 2>/dev/null && return
    sleep 1
  done
  echo "master failed to start" >&2; exit 1
}

start_workers() {
  local n="$1"
  for i in $(seq 0 $((n - 1))); do
    local lo=$((i * 4)) hi=$((i * 4 + 3))
    SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    SPARK_WORKER_DIR=/tmp/spark-cluster/work-$i \
    taskset -c "$lo-$hi" java $ADD_OPENS -Xmx768m -cp "/opt/spark/jars/*" \
      org.apache.spark.deploy.worker.Worker \
      --cores 4 --memory 9g --webui-port $((8100 + i)) \
      --work-dir /tmp/spark-cluster/work-$i "$MASTER_URL" \
      > /tmp/spark-cluster/worker-$i.log 2>&1 &
    PIDS+=($!)
  done
  # wait until the master sees all n workers ALIVE
  for _ in $(seq 1 30); do
    local alive
    alive=$(grep -c "Registering worker" /tmp/spark-cluster/master.log 2>/dev/null || true)
    [ "$alive" -ge "$n" ] && return
    sleep 1
  done
  echo "workers failed to register" >&2; exit 1
}

run_level() {
  local nworkers="$1"
  local cores=$((nworkers * 4))
  start_master
  start_workers "$nworkers"
  SPARK_GRAFT_MASTER="$MASTER_URL" \
  taskset -c 28-29 java $ADD_OPENS -Xmx4g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Dspark.local.dir=/dev/shm/spark-local \
    -Dspark.executor.cores=4 -Dspark.executor.memory=$EXEC_HEAP \
    -Dspark.executor.extraClassPath="$PWD/target/scala-2.13/classes:/opt/spark/jars/*" \
    -Dspark.executor.extraJavaOptions="-XX:+UseG1GC -Xms$EXEC_HEAP -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages $ADD_OPENS" \
    -cp "$CP" graft.ScaleBench "$ENTITIES" "$cores" 1 "$WARMUP" 2>/dev/null \
    | tail -1
  cleanup
}

echo "# cluster: entities=$ENTITIES reps=$REPS executors=1x4c vs 4x4c heap=$EXEC_HEAP/executor" >&2
ROWS=""
for r in $(seq 1 "$REPS"); do
  for w in ${LEVELS:-1 4}; do
    J=$(run_level "$w")
    echo "$J"
    ROWS="$ROWS$J"$'\n'
  done
done

echo "$ROWS" | awk -v lo=4 -v hi=16 '
  /"cpus":/ {
    match($0, /"cpus":[0-9]+/);      c = substr($0, RSTART+7, RLENGTH-7)+0
    match($0, /"total_sec":[0-9.]+/); t = substr($0, RSTART+12, RLENGTH-12)+0
    match($0, /"pairs_per_sec":[0-9]+/); p = substr($0, RSTART+16, RLENGTH-16)+0
    if (!(c in bestT) || t < bestT[c]) { bestT[c] = t; bestP[c] = p }
  }
  END {
    ratio = hi/lo
    printf("{\"scaling_cluster\":{\"n_executors\":1,\"xn_executors\":4,\"total_sec_n\":%.2f,\"total_sec_xn\":%.2f,\"efficiency\":%.2f,\"pairs_per_sec_n\":%d,\"pairs_per_sec_xn\":%d,\"score_efficiency\":%.2f}}\n",
      bestT[lo], bestT[hi], (bestT[lo]/bestT[hi])/ratio,
      bestP[lo], bestP[hi], (bestP[hi]/bestP[lo])/ratio)
  }'
