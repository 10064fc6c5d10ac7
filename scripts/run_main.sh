#!/bin/bash
# Run a graft main class outside sbt: scripts/run_main.sh graft.Bench [args...]
CLS=$1; shift
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# default 240m JIT code cache silently degrades long sessions: hundreds of
# generated (codegen) classes evict compiled hot paths and later operators
# run 5-10x slow — observed in long multi-operator runs; a long-lived production driver
# hits the same wall, so size the cache like Spark's own tuning docs say
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-48g} \
  -XX:ReservedCodeCacheSize=${SPARK_CODE_CACHE:-1g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$CLS" "$@"
