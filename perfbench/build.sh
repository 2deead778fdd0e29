#!/usr/bin/env bash
# Build file of the benchmark: compiles the graft library sources
# (src/main/scala) together with the benchmark's own sources
# (perfbench/src) into .bench_build/classes, using the Scala compiler
# that ships in Spark's jar directory on a plain JVM (no sbt).
#
# Usage, from the repository root:  SPARK_HOME=<spark install> bash perfbench/build.sh
set -euo pipefail
jars="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"
out=.bench_build/classes
tmp=.bench_build/classes.tmp
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 ||
  { echo "build.sh: no Scala compiler in $jars" >&2; exit 2; }
rm -rf "$tmp"
mkdir -p "$tmp" .bench_build/tmp
find src/main/scala perfbench/src -name '*.scala' | sort > .bench_build/sources.txt
java -XX:-UsePerfData -Xss8m -Xmx2g -Djava.io.tmpdir=.bench_build/tmp -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -deprecation:false -d "$tmp" @.bench_build/sources.txt
rm -rf "$out"
mv "$tmp" "$out"
