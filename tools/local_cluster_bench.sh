#!/bin/sh
# Run graft.Bench on a REAL multi-process Spark cluster:
# local-cluster[2,8,3072] = Spark's standalone master/worker launched
# in-process, spawning 2 SEPARATE executor JVMs (8 cores, 3 GB each).
# Unlike local[N], exchanges serialize over the loopback wire and each
# executor has an isolated heap — the closest a single host gets to a
# real cluster, and the direct test of the "cluster width shrinks
# per-executor state" scaling arguments.
#
# Usage: tools/local_cluster_bench.sh q_agg_groupby q_join_inner ...
# The named queries become SPARK_GRAFT_QUERIES (Bench times each cold
# and warm, with its job count); the master is a spark.master entry in
# SPARK_GRAFT_EXTRA_CONFS, after GraftSession's local[N] default, so it
# wins. Env: SPARK_GRAFT_SF_DIR (default x10 scaledata),
# SPARK_GRAFT_EXTRA_CONFS (appended, so its entries win again).
#
# Executor JVMs are built by the standalone Worker via the launcher's
# WorkerCommandBuilder: SPARK_HOME supplies the Spark jars on their
# classpath, spark.executor.extraClassPath adds the graft classes, and
# spark.executor.extraJavaOptions carries the JDK17 --add-opens set
# (the driver JVM gets the same flags from run_main.sh / build.sbt).
set -e
cd "$(dirname "$0")/.."

ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

QUERIES=$(echo "$@" | tr ' ' ',')
SPARK_HOME=/opt/spark \
SPARK_SCALA_VERSION=2.13 \
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-$(pwd)/scaledata/x10}" \
SPARK_GRAFT_QUERIES="$QUERIES" \
SPARK_GRAFT_EXTRA_CONFS="spark.master=local-cluster[2,8,3072];spark.executor.memory=2560m;spark.executor.extraClassPath=$(pwd)/target/scala-2.13/classes;spark.executor.extraJavaOptions=$ADD_OPENS;${SPARK_GRAFT_EXTRA_CONFS:-}" \
exec tools/run_main.sh graft.Bench
