#!/bin/bash
# Run a graft main class outside sbt (same JVM options as build.sbt fork;
# Spark confs come from graft.GraftSession, engine confs from -Dspark.graft.*).
# Usage: tools/run_main.sh graft.Verify <args...>
set -e
CP="/root/repo/target/scala-2.13/classes:$(ls -d /opt/spark/jars/* | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 GiB (as build.sbt)
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
# -Xss: GraphX Pregel (scc) builds deep closure/lineage chains; the 1 MB
# default thread stack overflows during task serialization at 10x soak
# scale when earlier kernels already ran in the same JVM
exec java -Xmx$MEM -Xss${SPARK_DRIVER_STACK:-16m} $OPENS -cp "$CP" "$@"
