#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) together
# with the benchmark harness (perfbench/harness) into one class directory,
# using the Scala compiler that ships with the Spark distribution. Nothing is
# written outside the output directory. A stamp of the sources' digest makes
# a rebuild of unchanged sources a no-op.
#
# Usage: perfbench/build.sh <out-dir>
# Classes land in <out-dir>/classes; <out-dir>/jars names the jar directory.
set -euo pipefail

root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"

if [ ! -d "$root/src/main/scala" ] || [ ! -f "$root/build.sbt" ]; then
  echo "build: no program sources under $root" >&2
  exit 1
fi
# the Spark jars the program builds against, as its build.sbt declares them
jars="$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$root/build.sbt")"
if ! compgen -G "$jars/scala-compiler-*.jar" > /dev/null; then
  echo "build: Scala compiler not found in '$jars'" >&2
  exit 1
fi

mkdir -p "$out"
echo "$jars" > "$out/jars"
find "$root/src/main/scala" "$root/perfbench/harness" -name '*.scala' | LC_ALL=C sort > "$out/sources.txt"
stamp="$(cat "$0" $(cat "$out/sources.txt") | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ] && [ -d "$out/classes" ]; then
  exit 0
fi

rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out" -cp "$jars/*" \
  scala.tools.nsc.Main -usejavacp -nowarn -d "$out/classes" @"$out/sources.txt"
echo "$stamp" > "$out/stamp"
