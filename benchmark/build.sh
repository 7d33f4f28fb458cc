#!/bin/bash
# Compiles the program (src/main/scala) together with the benchmark's own
# sources (benchmark/src) into one class directory, with the Scala compiler
# that ships in Spark's jars.
# Usage: bash benchmark/build.sh <outDir> <sparkJarsDir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="$2"
rm -rf "$out.tmp" && mkdir -p "$out.tmp"
find "$root/src/main/scala" "$root/benchmark/src" -name '*.scala' | sort \
  > "$out.tmp/sources.txt"
java -Xmx2g -Xss16m -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out.tmp" @"$out.tmp/sources.txt"
if [ -d "$root/src/main/resources" ]; then
  cp -r "$root/src/main/resources/." "$out.tmp/"
fi
rm -rf "$out" && mv "$out.tmp" "$out"
