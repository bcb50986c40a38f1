#!/bin/bash
# Run any graft main against the compiled classes + the Spark jars.
# Usage: bash tools/run_main.sh <MainClass> [args...]
#   env: JVM_XMX (default 24g), plus whatever the main reads.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MAIN=$1; shift
exec java $ADD_OPENS -Xmx"${JVM_XMX:-24g}" -cp "$CP" "$MAIN" "$@"
