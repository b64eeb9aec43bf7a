#!/usr/bin/env bash
# Compile the program (src/main/scala) together with the benchmark
# (perfbench/src) into one class directory, against the Spark jars.
# Usage, from the repository root: bash perfbench/build.sh <classes-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -cp "$jars/*" @"$out.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
