#!/usr/bin/env bash
# Builds the benchmark: compiles the library sources (src/main/scala)
# together with the harness (perfbench/src) into perfbench/.build/classes,
# using the Scala compiler that ships in Spark's jars directory, and
# records that directory in perfbench/.build/spark_jars for the run.
#
# Usage: bash perfbench/build.sh
# Needs SPARK_HOME, or spark-submit on PATH. Skips the compile when the
# sources have not changed since the last build.
set -euo pipefail
bench=$(cd "$(dirname "$0")" && pwd)
root=$(dirname "$bench")
out="$bench/.build"

if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "build: no library sources at $root/src/main/scala" >&2
  exit 1
fi
spark_home=${SPARK_HOME:-}
if [ -z "$spark_home" ] && submit=$(command -v spark-submit); then
  spark_home=$(dirname "$(dirname "$(readlink -f "$submit")")")
fi
jars="$spark_home/jars"
compiler=$(ls "$jars"/scala-compiler-*.jar 2>/dev/null | head -1 || true)
if [ -z "$spark_home" ] || [ -z "$compiler" ]; then
  echo "build: no Spark jars with a Scala compiler found (set SPARK_HOME)" >&2
  exit 1
fi
scalacp="$compiler:$(ls "$jars"/scala-library-*.jar | head -1):$(ls "$jars"/scala-reflect-*.jar | head -1)"

mkdir -p "$out"
sources=$(find "$root/src/main/scala" "$bench/src" -name '*.scala' | LC_ALL=C sort)
stamp=$( (echo "$jars"; cat "$0"; echo "$sources" | xargs cat) | sha256sum | cut -d' ' -f1)
if [ -d "$out/classes" ] && [ "$(cat "$out/stamp" 2>/dev/null)" = "$stamp" ]; then
  exit 0
fi
tmp="$out/classes.tmp"
rm -rf "$tmp" "$out/classes" "$out/stamp"
mkdir -p "$tmp"
echo "$sources" > "$out/sources.txt"
echo "build: compiling $(echo "$sources" | wc -l) Scala files" >&2
java -XX:-UsePerfData -Xss16m -Xmx2g -cp "$scalacp" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$tmp" @"$out/sources.txt"
mv "$tmp" "$out/classes"
echo "$jars" > "$out/spark_jars"
echo "$stamp" > "$out/stamp"
