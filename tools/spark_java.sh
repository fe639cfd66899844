#!/bin/bash
# The one way to launch an out-of-sbt JVM against the compiled classes
# (graft.Bench / graft.Verify / graft.DevScaleLadder / graft.Smoke).
#
# Why it exists: sbt injects build.sbt's jdk17 --add-opens set for its
# forked runs, but a bare `java -cp ...` does not — and Spark 4 on JDK
# 17 needs them (org.apache.spark.launcher.JavaModuleOptions). Round 12
# burned two committed bench lines on exactly that: q92_zorder_layout
# threw IllegalAccessException (sun.util.calendar.ZoneInfo) in every
# rep and the lines recorded its time-to-fail as a plausible median.
# Keep this list in lockstep with build.sbt's jdk17AddOpens.
#
# HEAP: deliberately JVM-default (~25% of RAM) when no -Xmx is passed —
# build.sbt forks with -Xmx8g, but every committed bench/ladder line
# was taken at the default, so silently matching sbt here would shift
# the floor band and break same-boot comparability (r14 review weighed
# and declined the change). Pass -Xmx explicitly for a bounded run;
# the r14 q52 three-arm experiment measured heap size as floor-neutral.
#
# Usage: tools/spark_java.sh [java-opts...] <MainClass> [args...]
#   e.g. env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
#          tools/spark_java.sh -Xmx16g graft.Bench
# Perf claims use perfbench/ (perfbench/README.md), not this launcher.
set -eu
cd "$(dirname "$0")/.."
PKGS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS=()
for p in "${PKGS[@]}"; do OPENS+=(--add-opens "$p=ALL-UNNAMED"); done
[[ $# -gt 0 ]] || { echo "usage: $0 [java-opts...] <MainClass> [args...]" >&2; exit 64; }
# test-classes is on the path because graft.DevScaleLadder (a dev
# main, not a spec) compiles there; harmless for main-only launches
exec java "${OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*" "$@"
