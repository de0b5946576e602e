#!/usr/bin/env bash
# Build file of the loader benchmark: compiles the loader library
# (src/main/scala) together with the benchmark (loaderbench/src) and its
# generator test (loaderbench/test) into one jar, with the Scala compiler
# that ships in Spark's jars. A jar, not a class directory, so that the
# JVM's class-data sharing archive can hold the benchmark's classes.
#
#   bash loaderbench/build.sh <jar> <spark-jars-dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="$2"
if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: no loader sources at $root/src/main/scala" >&2
  exit 2
fi
rm -rf "$out.classes"
mkdir -p "$out.classes"
find "$root/src/main/scala" "$root/loaderbench/src" "$root/loaderbench/test" \
  -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.classes" -cp "$jars/*" "@$out.sources"
jar cf "$out.tmp" -C "$out.classes" .
rm -rf "$out.classes"
mv "$out.tmp" "$out"
