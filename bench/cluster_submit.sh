#!/usr/bin/env bash
# North-rule evidence, literal form: "launched by spark-submit ... on a
# multi-executor cluster", resumable from snapshot checkpoints.
#
# Stands up the same standalone topology as scale_cluster.sh's wide level
# (master on core 30, 4 pinned 4-core executor JVMs with pre-touched THP
# heaps), then spark-submits graft.app.PipelineApp against it TWICE with
# the same workRoot:
#   run 1: full pipeline  pages -> extracted(bucketed) -> blocked ->
#          scored -> clusters -> metrics, each stage a named snapshot
#          with per-partition lineage
#   run 2: resumes — every stage is served from its committed snapshot,
#          so the wall time is read-only overhead (the resume proof)
#
# Usage: bench/cluster_submit.sh [entities] [workRoot]
set -euo pipefail
cd "$(dirname "$0")/.."

# The topology pins JVMs to cores 0-15 and 28-30: on a smaller host
# taskset fails, so stop before any JVM starts.
if [ "$(nproc)" -lt 31 ]; then
  echo "cluster_submit.sh: needs a host with 31+ cores (JVMs pinned to cores 0-15 and 28-30); this one has $(nproc)" >&2
  exit 1
fi

ENTITIES="${1:-200000}"
WORK="${2:-/tmp/graft-submit}"
MASTER_PORT=7077
MASTER_URL="spark://127.0.0.1:$MASTER_PORT"
JAR="target/scala-2.13/entity_matching_datasetsspark_2.13-0.1.0.jar"
[ -f "$JAR" ] || { echo "build the jar first: sbt package" >&2; exit 1; }

# Refuse to run against stale daemons: an orphaned master keeps port 7077
# while a new one silently binds 7078, so workers/driver join the WRONG
# master and stale executors inflate the level (observed: a "1-worker"
# level running on 20 cores, cpu_util 1.9).
if pgrep -f "^(java|taskset).*org.apache.spark.deploy" >/dev/null; then
  echo "stale Spark master/worker daemons running — kill them first:" >&2
  pgrep -af "^(java|taskset).*org.apache.spark.deploy" >&2
  exit 1
fi

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

mkdir -p /tmp/spark-cluster /dev/shm/spark-local
PIDS=()
cleanup() {
  for p in "${PIDS[@]:-}"; do kill "$p" 2>/dev/null || true; done
  sleep 1
  for p in "${PIDS[@]:-}"; do kill -9 "$p" 2>/dev/null || true; done
}
trap cleanup EXIT

taskset -c 30 java $ADD_OPENS -Xmx1g -cp "/opt/spark/jars/*" \
  -Dspark.master.rest.enabled=false \
  org.apache.spark.deploy.master.Master \
  --host 127.0.0.1 --port "$MASTER_PORT" --webui-port 8090 \
  > /tmp/spark-cluster/master.log 2>&1 &
PIDS+=($!)
for _ in $(seq 1 30); do
  grep -q "I have been elected leader" /tmp/spark-cluster/master.log 2>/dev/null && break
  sleep 1
done
grep -q "I have been elected leader" /tmp/spark-cluster/master.log 2>/dev/null ||
  { echo "master failed to start" >&2; exit 1; }

for i in 0 1 2 3; do
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  taskset -c "$((i*4))-$((i*4+3))" java $ADD_OPENS -Xmx768m -cp "/opt/spark/jars/*" \
    org.apache.spark.deploy.worker.Worker \
    --cores 4 --memory 9g --webui-port $((8100 + i)) \
    --work-dir /tmp/spark-cluster/work-$i "$MASTER_URL" \
    > /tmp/spark-cluster/worker-$i.log 2>&1 &
  PIDS+=($!)
done
sleep 5

submit() {
  taskset -c 28-29 /opt/spark/bin/spark-submit \
    --master "$MASTER_URL" \
    --class graft.app.PipelineApp \
    --driver-memory 4g \
    --conf spark.executor.cores=4 \
    --conf spark.executor.memory=4g \
    --conf spark.executor.extraJavaOptions="-XX:+UseG1GC -Xms4g -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages" \
    --conf spark.sql.shuffle.partitions=32 \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.scheduler.minRegisteredResourcesRatio=1.0 \
    --conf spark.scheduler.maxRegisteredResourcesWaitingTime=120s \
    --conf spark.local.dir=/dev/shm/spark-local \
    --conf spark.ui.enabled=false \
    "$JAR" "$WORK" "$ENTITIES" 42
}

rm -rf "$WORK"
echo "=== run 1: full pipeline, $ENTITIES entities, 4 executors ==="
t0=$SECONDS
submit 2>&1 | grep -E "^\||^\+|snapshot|resume" || true
echo "run1_sec=$((SECONDS - t0))"

echo "=== run 2: resume from committed snapshots (same workRoot) ==="
t1=$SECONDS
submit 2>&1 | grep -E "^\||^\+|snapshot|resume" || true
echo "run2_sec=$((SECONDS - t1))"

echo "=== snapshot manifests ==="
ls "$WORK/_snapshots/" 2>/dev/null
