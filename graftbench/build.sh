#!/bin/sh
# Builds the benchmark: graft's main sources plus the harness, compiled with
# the Scala compiler that ships in Spark's jars (no sbt, no downloads).
#
#   sh graftbench/build.sh <classes dir> <Spark jars dir>   (from the repository root)
set -eu
out="$1"
jars="$2"
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala graftbench/harness -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out.tmp" "@$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
