#!/bin/bash
# Run a graft main class from compiled classes against the local Spark jars,
# skipping sbt's JVM startup: tools/run_main.sh graft.Run bigclam source=...
# Heap: local-mode Spark takes its driver heap from this JVM's -Xmx
# (spark.driver.memory set after launch is a no-op): half of MemTotal by
# default, GRAFT_XMX overrides it.
# periodicGC 5min (vs Spark's 30min default): shuffle files are reclaimed
# by ContextCleaner only when the JVM garbage-collects the dereferenced
# ShuffleDependency objects — a large heap under an hours-long iterative
# fit may never GC, so spill accumulates ~1 GB/iteration until the disk
# fills (killed the first round-16 capstone walk at 69 iterations).
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# the Spark jar directory build.sbt compiles against (its unmanagedBase)
SPARK_JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CLS=$1; shift
# Wipe guard (round-16 item 5): the driver wipes target/ between rounds and
# can leave STUB Bench/Verify/SparkEntry classes with an empty query map — a
# bench against them prints total 0.0 s and the measurement is silently lost
# (it killed the round-15 fresh-boot pair). The stubs never include the ops
# package, so its absence = not the compiled library. Checked here rather
# than in Bench's main because the stub Bench wouldn't contain the check.
if [ ! -f "$ROOT/target/scala-2.13/classes/graft/ops/Relational.class" ]; then
  echo "run_main ABORT: target/scala-2.13/classes is missing graft/ops —" \
    "these are the driver's stub classes (or an empty target/), not the" \
    "compiled library. Run 'sbt -batch compile' first." >&2
  exit 3
fi
XMX="${GRAFT_XMX:-$(awk '/^MemTotal:/ {print int($2 / 2048) "m"}' /proc/meminfo)}"
exec java -Xmx"$XMX" -XX:+UseG1GC \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  --enable-native-access=ALL-UNNAMED \
  -Dderby.system.home=/tmp/derby \
  -Dspark.cleaner.periodicGC.interval=5min \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_JARS/*" \
  "$CLS" "$@"
