#!/bin/bash
# Run graft.Verify outside sbt (fast iteration). Usage: run_verify.sh [sfdir] [outdir]
set -e
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/verify_out}
. "$(dirname "${BASH_SOURCE[0]}")/java_env.sh"
exec java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT"
