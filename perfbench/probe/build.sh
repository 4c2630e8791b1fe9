#!/usr/bin/env bash
# Build the benchmark's probe classes (pipeline host, board runner, trace listener).
#   bash perfbench/probe/build.sh <program-classpath> <out-dir>
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
mkdir -p "$2"
javac -nowarn -encoding UTF-8 -d "$2" -cp "$1" "$here"/src/perfbench/*.java
