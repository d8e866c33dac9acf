#!/bin/bash
# Run a graft main class directly (no sbt startup): tools/run.sh graft.Verify <args...>
# Assumes `sbt compile` has produced target/scala-2.13/classes. The tool
# mains ExplainAll and SkewDemo live in TEST scope so the published jar
# ships operators only — they need `sbt Test/compile` first and resolve
# from test-classes below.
MAIN=$1; shift
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-32g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/root/repo/target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
