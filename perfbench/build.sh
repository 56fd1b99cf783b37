#!/usr/bin/env bash
# Compiles graft's sources together with the benchmark's into one class
# directory, with the Scala compiler that ships in Spark's jars.
#
#   bash perfbench/build.sh OUT_DIR      (from the repository root)
set -euo pipefail
out="$1"
jars="${SPARK_HOME:-/opt/spark}/jars"
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "build.sh: src/main/scala or perfbench/src missing; run from the repository root" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$out.tmp" @"$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
