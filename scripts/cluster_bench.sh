#!/bin/bash
# Multi-executor cluster scaling evidence (north_rule: spark-submit on a
# multi-executor cluster at two cluster sizes, N and 4N executors).
#
# Stands up a Spark STANDALONE cluster on this box (master + one 8-core
# worker), then submits graft.tools.ClusterBench through real spark-submit
# at 2 single-core executors (N) and 8 single-core executors (4N) —
# separate executor JVMs, real serialization, netty shuffle across process
# boundaries. Rounds are INTERLEAVED (2-exec then 8-exec per round, 3
# rounds, per-level minimum) for the same reason graft.Bench interleaves
# its local legs: host-tenant noise on this VM is one-sided and drifts on
# ~10-minute scales. Single-core executors keep both levels in the
# compute-bound regime (the faithful stand-in for adding cluster NODES —
# see BENCH/BASELINE.md's discussion of the 8→32 DRAM ceiling).
#
# Writes BENCH/CLUSTER.md. Logs land under /tmp/cluster.
set -uo pipefail
cd /root/repo
LOG=/tmp/cluster
mkdir -p "$LOG"
export SPARK_HOME=/opt/spark
export SPARK_LOG_DIR="$LOG/daemon-logs"
export SPARK_PID_DIR="$LOG/pids"
export SPARK_LOCAL_IP=127.0.0.1
export SPARK_MASTER_HOST=127.0.0.1
# Standalone executors IGNORE --conf spark.local.dir (SparkConf warns it is
# overridden by the cluster manager): shuffle dirs come from the WORKER's
# SPARK_LOCAL_DIRS, which defaults to disk-backed /tmp. Point it at the same
# tmpfs the local-mode bench uses, or the cluster legs measure disk I/O the
# local legs don't pay.
export SPARK_LOCAL_DIRS=/dev/shm/spark-graft
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
JAR=target/scala-2.13/rabbitsketchspark_2.13-0.1.0.jar
ROUNDS="${CLUSTER_ROUNDS:-3}"

echo "=== package $(date +%T) ===" | tee "$LOG/chain.log"
sbt -batch package > "$LOG/package.log" 2>&1 || { echo "package failed"; exit 1; }

# pre-generate the corpus once (excluded from every timed window) and sweep
# stale tmpfs shuffle dirs from killed runs — no daemons are up yet
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SCALING=0 SPARK_GRAFT_HEADLINE=0 \
  sbt -batch "runMain graft.Bench" > "$LOG/pregen.log" 2>&1
git checkout -- BENCH/BASELINE.md 2>/dev/null || true

"$SPARK_HOME/sbin/stop-worker.sh" > /dev/null 2>&1 || true
"$SPARK_HOME/sbin/stop-master.sh" > /dev/null 2>&1 || true
rm -rf /dev/shm/spark-graft

echo "=== start cluster $(date +%T) ===" | tee -a "$LOG/chain.log"
"$SPARK_HOME/sbin/start-master.sh" --host 127.0.0.1 --port 7077 --webui-port 8080 \
  >> "$LOG/chain.log" 2>&1
"$SPARK_HOME/sbin/start-worker.sh" spark://127.0.0.1:7077 --cores 8 --memory 56g \
  >> "$LOG/chain.log" 2>&1
sleep 6

# Two cluster-sizing confs below are what a real containerized cluster gets
# for free: (1) -XX:ActiveProcessorCount=1 — a cpuset-limited 1-core executor
# sees 1 CPU, so its GC/JIT/netty pools size to 1; unpinned on this shared
# box every executor JVM would size them for all 32 host cores (8 JVMs x
# ~30 threads oversubscribing the 8-core app). (2) spark.locality.wait=0 —
# all executors are on one host, so the 3s default process-local wait for
# persisted blocks is pure idle latency with no data-movement payoff.
# Both JVMs also get --add-modules jdk.incubator.vector: without it the SIMD
# MinHash kernel silently falls back to the scalar loop.
submit() { # submit <total_cores> <tag>
  local cores=$1 tag=$2
  echo "=== submit $tag ($cores cores) $(date +%T) ===" | tee -a "$LOG/chain.log"
  SPARK_GRAFT_SF_DIR="$SF_DIR" "$SPARK_HOME/bin/spark-submit" \
    --master spark://127.0.0.1:7077 \
    --deploy-mode client \
    --class graft.tools.ClusterBench \
    --driver-memory 16g \
    --executor-memory 6g \
    --conf spark.executor.cores=1 \
    --conf spark.cores.max="$cores" \
    --conf spark.local.dir=/dev/shm/spark-graft \
    --conf spark.ui.enabled=false \
    --conf "spark.driver.extraJavaOptions=--add-modules jdk.incubator.vector" \
    --conf "spark.executor.extraJavaOptions=-XX:ActiveProcessorCount=1 --add-modules jdk.incubator.vector" \
    --conf spark.locality.wait=0s \
    "$JAR" > "$LOG/run_${tag}.log" 2>&1
  grep -h '"cluster_bench"' "$LOG/run_${tag}.log" >> "$LOG/results.jsonl" || true
}

: > "$LOG/results.jsonl"
for r in $(seq 1 "$ROUNDS"); do
  submit 2 "n2_r${r}"
  submit 8 "n8_r${r}"
done

echo "=== stop cluster $(date +%T) ===" | tee -a "$LOG/chain.log"
"$SPARK_HOME/sbin/stop-worker.sh" >> "$LOG/chain.log" 2>&1 || true
"$SPARK_HOME/sbin/stop-master.sh" >> "$LOG/chain.log" 2>&1 || true

python3 scripts/cluster_report.py "$LOG/results.jsonl" BENCH/CLUSTER.md "$SF_DIR" "$ROUNDS"
echo "=== done $(date +%T) ===" | tee -a "$LOG/chain.log"
