#!/bin/bash
# Local replica of the driver's correctness pipeline:
#   compile -> run graft.Verify at a given SF -> DuckDB-compare via check.py
# Usage: tools/verify_local.sh [sfDir] [outDir] [queryFilter]
# queryFilter is a comma list of query-name substrings: graft.Verify dumps
# (as SPARK_GRAFT_ONLY) and check.py compares only the queries it selects,
# and check.py fails if it selects none.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
sbt -batch compile > /tmp/sbt_compile.log 2>&1 || { tail -30 /tmp/sbt_compile.log; exit 1; }
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
SPARK_GRAFT_ONLY=${3:-${SPARK_GRAFT_ONLY:-}} SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>/tmp/verify_err.log || { tail -30 /tmp/verify_err.log; exit 1; }
grep -E '\[verify\]' /tmp/verify_err.log || true
python3 tools/check.py "$SF" "$OUT" "${3:-}"
