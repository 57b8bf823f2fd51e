#!/bin/bash
# Dev tool: run a graft main directly (faster than sbt, supports JFR).
# Usage: dev/run.sh [-jfr /tmp/x.jfr] graft.Harness <mode> args...
set -e
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JFR=""
if [ "$1" == "-jfr" ]; then
  JFR="-XX:StartFlightRecording=filename=$2,settings=profile"
  shift 2
fi
exec java -cp "$CP" $OPENS $JFR -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Dderby.system.home=/tmp/graft_derby "$@"
