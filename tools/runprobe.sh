#!/bin/bash
# Direct-JVM probe runner — dev tooling, NOT part of the shipped library.
#
# Runs a graft main (graft.Dev, graft.Bench, graft.Verify) straight on the
# compiled classes + the unmanaged Spark jars, bypassing sbt. Why it exists
# (BASELINE.md round-17 ops notes):
#   * the sbt shell cannot change env vars mid-session, and `sbt -batch`
#     pays ~40 s JVM+build startup per invocation — interleaved A/B probes
#     alternate OLD/NEW binaries every pass, where that tax dominates;
#   * two concurrent sbt processes contend on the build lock, so probe runs
#     could never overlap a compile. This runner needs only
#     `target/scala-2.13/classes` to be current (run `sbt -batch compile`
#     first — or point GRAFT_CLASSES at a second checkout's target dir for
#     the OLD side of a cross-binary A/B).
#
# graft.Dev subcommands (arguments and env in Dev.scala's header):
#   scale [k] [names]            recall [ks] [names]
#   ivf <dir>... | --k K [--time]
#   stream asof [k] [configs]    stream neardup [k]
#   stream neardup-hot [c] [cap] [off,cap]    stream semdedup [k] [exact,default]
#   plans <sfDir> | plans <sfDir> <outDir> <suffix> [names|ALL]
#   profile <name> [passes]      bytes [ks]
#
# Usage:
#   tools/runprobe.sh graft.Dev stream asof 64 state_single,buf_single
#   SPARK_GRAFT_SCALE_DIR=/tmp/gsp_evh SPARK_GRAFT_STREAM_SLICES=2 \
#     tools/runprobe.sh graft.Dev stream asof 64 state_single
#   GRAFT_CLASSES=/tmp/old/target/scala-2.13/classes \
#     tools/runprobe.sh graft.Dev scale 64 llm_tfidf   # OLD binary of an A/B pair
#
# Env: SPARK_DRIVER_MEM (default 8g), GRAFT_CLASSES (default this repo's
# target dir), GRAFT_JAVA_OPTS (extra JVM flags), and everything the main
# itself reads (SPARK_GRAFT_*). Every main builds its session through
# graft.Sessions, which applies SPARK_GRAFT_EXTRA_CONF="k=v,k=v" at build
# time, so CORE SparkConf entries work there too, e.g.
# SPARK_GRAFT_EXTRA_CONF=spark.io.compression.codec=zstd.
#
# The add-opens list mirrors build.sbt's jdk17AddOpens (Spark 4.x on JDK 17
# outside spark-submit); the 1g code cache mirrors the bench main's JIT
# sizing. Keep the three in sync.
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
CLASSES="${GRAFT_CLASSES:-$(dirname "$0")/../target/scala-2.13/classes}"
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  $GRAFT_JAVA_OPTS \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
