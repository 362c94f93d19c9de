#!/bin/sh
# Build file of the benchmark package: compiles the engine (src/main/scala)
# and the benchmark (perfbench/scala) with the Scala compiler that
# ships in the Spark distribution, into <out>/engine and <out>/bench.
#
# Usage (from the repository root): sh perfbench/build.sh <out> <spark-jars-dir>
set -eu
out="$1"
jars="$2"
scalac() {
  java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn "$@"
}
rm -rf "$out.tmp"
mkdir -p "$out.tmp/engine" "$out.tmp/bench"
scalac -d "$out.tmp/engine" $(find src/main/scala -name '*.scala' | sort)
scalac -cp "$out.tmp/engine" -d "$out.tmp/bench" \
  $(find perfbench/scala -name '*.scala' | sort)
rm -rf "$out"
mv "$out.tmp" "$out"
