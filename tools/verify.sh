#!/usr/bin/env bash
# Local replica of the driver's t2 gate: compile, run graft.Verify on a
# scale dir, then compare each query's parquet against its DuckDB oracle.
# Usage: tools/verify.sh [sfDir] [outDir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/graft_verify}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

sbt -batch compile > /tmp/sbt_compile.log 2>&1 || { tail -30 /tmp/sbt_compile.log; exit 1; }

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

rm -rf "$OUT_DIR"
SPARK_GRAFT_CPUS="$CPUS" java $ADD_OPENS \
  -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT_DIR"

python3 tools/check.py "$SF_DIR" "$OUT_DIR"
