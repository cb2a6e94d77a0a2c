#!/bin/bash
# Direct-JVM runner for graft mains: skips sbt's ~40 s startup and its
# project lock (two sbt batch invocations serialize; this doesn't), so
# Verify/Bench/ScaleUp/DecadeProbe can run concurrently with an sbt
# compile or with each other. Requires compiled classes in
# target/scala-2.13/classes (run `sbt compile` first).
#
#   tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/out
#   GRAFT_MEM=48g tools/run_main.sh graft.Bench
#
# The --add-opens set mirrors build.sbt (Spark 4.x on JDK 17 outside
# spark-submit).
MAIN=$1; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${GRAFT_MEM:-8g} \
  -cp "$(dirname "$0")/../target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
