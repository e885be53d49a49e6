#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and
# the benchmark (perfbench/src) with the Scala compiler that ships in the
# Spark jars, into one classes directory. Run from the repository root:
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "perfbench/build.sh: src/main/scala or perfbench/src missing; run from the repository root" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -d "$out.tmp" \
  -cp "$jars/*" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
