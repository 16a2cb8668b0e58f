#!/usr/bin/env bash
# Usage: perfbench/build.sh SPARK_JARS_DIR   (from the repository root)
# Builds the engine (src/main) together with the benchmark program
# (perfbench/src) into .bench_build/classes with the Scala compiler that
# ships in Spark's jars. Skips the compile when the sources are unchanged
# since the last build.
set -euo pipefail
jars="$1"
out=.bench_build/classes
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "build.sh: run from the repository root (src/main/scala not found)" >&2
  exit 2
fi
stamp=$(find src/main perfbench/src -type f -print0 | sort -z | xargs -0 sha1sum | sha1sum)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' > .bench_build/sources.txt
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out" @.bench_build/sources.txt
cp -r src/main/resources/. "$out/"
echo "$stamp" > "$out/.stamp"
