#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources (src/main)
# together with the benchmark driver (graftbench/src) into
# graftbench/.build/classes with the Scala compiler that ships with Spark.
# Skips the compile when no source changed since the last build.
#
# Usage (from the repository root): bash graftbench/build.sh
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
cd "$root"

if [ ! -d src/main/scala ]; then
  echo "graftbench: graft sources (src/main/scala) not found under $root" >&2
  exit 2
fi

spark_home="${SPARK_HOME:-}"
if [ -z "$spark_home" ] && command -v spark-submit >/dev/null 2>&1; then
  spark_home="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
if [ -z "$spark_home" ] || [ ! -d "$spark_home/jars" ]; then
  echo "graftbench: Spark jars not found (set SPARK_HOME)" >&2
  exit 2
fi

build="$here/.build"
mkdir -p "$build"
cp_file="$build/classpath"
ls "$spark_home"/jars/*.jar | tr '\n' ':' > "$cp_file"

sources=$( (find src/main/scala "$here/src" -name '*.scala'; \
            find src/main/resources -type f 2>/dev/null) | LC_ALL=C sort)
stamp=$( { echo "$spark_home"; for f in $sources; do echo "$f"; cat "$f"; done; } \
         | sha1sum | cut -d' ' -f1)
if [ -f "$build/stamp" ] && [ "$(cat "$build/stamp")" = "$stamp" ] \
   && [ -d "$build/classes" ]; then
  exit 0
fi

echo "graftbench: compiling graft and the benchmark" >&2
rm -rf "$build/classes" "$build/classes.tmp" "$build/stamp"
mkdir -p "$build/classes.tmp"
cp="$(cat "$cp_file")"
java -Xmx2g -Xss8m -cp "$cp" scala.tools.nsc.Main -nowarn \
  -d "$build/classes.tmp" -classpath "$cp" \
  $(echo "$sources" | grep '\.scala$')
if [ -d src/main/resources ]; then
  cp -r src/main/resources/. "$build/classes.tmp/"
fi
mv "$build/classes.tmp" "$build/classes"
echo "$stamp" > "$build/stamp"
