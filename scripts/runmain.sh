#!/bin/bash
# Launch a graft main directly (bypassing sbt) — same JVM flags as
# build.sbt's forked run, on the compiled classes of the checkout that
# holds this script. Usage: runmain.sh <mainClass> [args...]
MAIN=$1; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SERVICES=META-INF/services/org.apache.spark.sql.sources.DataSourceRegister
if [ ! -f "$ROOT/target/scala-2.13/classes/$SERVICES" ]; then
  echo "runmain.sh: $SERVICES is not in target/scala-2.13/classes; build with 'sbt Compile/copyResources compile' first" >&2
  exit 2
fi
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
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
  -Xmx${SPARK_DRIVER_MEM:-16g} \
  -cp "$CP" "$MAIN" "$@"
