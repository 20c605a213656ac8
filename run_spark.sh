#!/usr/bin/env bash
# Cluster deploy recipe — the Spark analog of the reference's
# run_code.sh + flink-conf.yaml (reference: run_code.sh:3-11 passes the
# state path, brokers and six topic names to `flink run`;
# flink-conf.yaml carries RocksDB/parallelism/heap tuning). Here the
# same knobs are spark-submit --conf flags, grouped and annotated so the
# file doubles as the documented cluster configuration set.
#
# Usage:
#   ./run_spark.sh <main> [args...]
# e.g.
#   ./run_spark.sh graft.Demo
#   ./run_spark.sh graft.Bench                      # SPARK_GRAFT_SF_DIR must be set
#   ./run_spark.sh graft.streaming.CrmlsStreamMain \
#       --bootstrap-server broker1:9092,broker2:9092 \
#       --listings-topic listings --agents-topic agents ...
#
# Build the jar first:  sbt package   (or `sbt assembly` if an assembly
# plugin is configured; plain `package` suffices because the engine has
# no managed dependencies beyond Spark itself).
set -euo pipefail

MAIN="${1:?usage: run_spark.sh <mainClass> [args...]}"
shift

JAR="$(ls target/scala-2.13/*.jar 2>/dev/null | head -1)"
[ -n "$JAR" ] || { echo "no jar under target/scala-2.13 — run 'sbt package'" >&2; exit 1; }

# Sizing defaults — override via environment. shuffle.partitions should
# be 2-3x total executor cores (Spark's 200 default underparallelizes
# large clusters and overparallelizes small ones).
EXECUTORS="${GRAFT_EXECUTORS:-8}"
EXECUTOR_CORES="${GRAFT_EXECUTOR_CORES:-4}"
EXECUTOR_MEM="${GRAFT_EXECUTOR_MEM:-8g}"
DRIVER_MEM="${GRAFT_DRIVER_MEM:-4g}"
SHUFFLE_PARTITIONS="${GRAFT_SHUFFLE_PARTITIONS:-$((EXECUTORS * EXECUTOR_CORES * 3))}"
# Durable checkpoint root for Structured Streaming (exactly-once; the
# reference's --state-path). MUST be shared storage (HDFS/S3) on a real
# cluster — a local path silently breaks recovery after node loss.
# CrmlsStream.run writes a file: checkpoint through java.nio
# (LocalCheckpointFileManager: no chmod process per log file); an
# hdfs:/s3a: checkpoint goes through Hadoop's filesystem as before.
CHECKPOINT_DIR="${GRAFT_CHECKPOINT_DIR:-file:///tmp/graft-checkpoints}"
MASTER="${GRAFT_MASTER:-yarn}"

exec "${SPARK_HOME:-/opt/spark}"/bin/spark-submit \
  --master "$MASTER" \
  --deploy-mode "${GRAFT_DEPLOY_MODE:-client}" \
  --class "$MAIN" \
  --num-executors "$EXECUTORS" \
  --executor-cores "$EXECUTOR_CORES" \
  --executor-memory "$EXECUTOR_MEM" \
  --driver-memory "$DRIVER_MEM" \
  `# ---- query engine (mirrors GraftSession.local) ----` \
  --conf spark.sql.extensions=graft.GraftExtensions \
  --conf spark.sql.shuffle.partitions="$SHUFFLE_PARTITIONS" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.coalescePartitions.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.legacy.parquet.nanosAsLong=true \
  `# generated-code cache: GraftExtensions sets it on the driver, but` \
  `# executors read their conf at launch; keep equal to` \
  `# GraftExtensions.CodegenCacheMaxEntries (RunSparkScriptSpec checks)` \
  --conf spark.sql.codegen.cache.maxEntries=4096 \
  `# ---- scan sizing: keep input splits near the 128M sweet spot ----` \
  --conf spark.sql.files.maxPartitionBytes=134217728 \
  `# ---- streaming state (reference: flink-conf.yaml RocksDB block) ----` \
  --conf spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider \
  --conf spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true \
  --conf spark.sql.streaming.checkpointLocation="$CHECKPOINT_DIR" \
  `# ---- shuffle robustness at scale ----` \
  --conf spark.shuffle.service.enabled=true \
  --conf spark.sql.autoBroadcastJoinThreshold=33554432 \
  `# ---- Kafka connector: provide the package on clusters with egress` \
  `#      (the offline dev image has no broker; see SURVEY §2.1) ----` \
  ${GRAFT_KAFKA_PACKAGE:+--packages "$GRAFT_KAFKA_PACKAGE"} \
  "$JAR" "$@"
