#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's sources (src/main/scala
# at the repository root) together with the harness (graftbench/src)
# into one class directory, with the Scala compiler and Spark jars that
# ship in the Spark distribution (SPARK_HOME, else the one whose
# spark-submit is on PATH). The jars' class path is kept in
# <class-dir>/SPARK_JARS for running the harness.
#
#   bash graftbench/build.sh <class-dir>
set -euo pipefail
out="$1"
here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
src="$here/../src/main/scala"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars/*"
[ -d "$src" ] || { echo "graft sources not found at $src" >&2; exit 2; }
rm -rf "$out.tmp" && mkdir -p "$out.tmp"
find "$src" "$here/src" -name '*.scala' > "$out.tmp/sources.txt"
java -Xmx2g -Xss8m -cp "$jars" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars" "@$out.tmp/sources.txt"
echo "$jars" > "$out.tmp/SPARK_JARS"
rm -rf "$out" && mv "$out.tmp" "$out"
