#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's sources
# (src/main/scala of the repository) together with the benchmark's own
# sources into one class directory. The Scala 2.13 compiler and every
# library come from the Spark distribution's jars, so no dependency
# resolution takes place.
#
#   bash ltssbench/build.sh <output-class-dir>
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
out="$1"
jars="${SPARK_HOME:-/opt/spark}/jars"
[ -d "$root/src/main/scala" ] || { echo "build: program sources not found at $root/src/main/scala" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 || { echo "build: no Scala compiler in $jars" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' > "$out.tmp.sources"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$out.tmp" "@$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
