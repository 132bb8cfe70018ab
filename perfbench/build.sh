#!/usr/bin/env bash
# Builds the benchmark: the engine's sources (src/main/scala) and the
# benchmark's own (perfbench/src) in one scalac pass, against the Spark
# distribution's jars, which carry the matching Scala compiler.
#
# Usage (from the repository root): bash perfbench/build.sh <outDir> <sparkJarsDir>
set -euo pipefail
OUT="${1:?usage: build.sh <outDir> <sparkJarsDir>}"
JARS="${2:?usage: build.sh <outDir> <sparkJarsDir>}"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
compiler=$(ls "$JARS"/scala-compiler-*.jar "$JARS"/scala-library-*.jar "$JARS"/scala-reflect-*.jar | tr '\n' ':')
rm -rf "$OUT.tmp"
mkdir -p "$OUT.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$OUT.tmp/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -d "$OUT.tmp" -classpath "$JARS/*" @"$OUT.tmp/sources.txt"
rm -rf "$OUT"
mv "$OUT.tmp" "$OUT"
