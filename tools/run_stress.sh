#!/bin/bash
# Run graft.StressBench outside sbt. Usage: run_stress.sh [sfdir] [factor]
# SPARK_GRAFT_ONLY=row_a,row_b restricts to named rows (same contract as
# Bench). Rows are single-sample: keep the host quiet while measuring.
set -e
SF=${1:-/root/testdata/sf0.1}
FACTOR=${2:-10}
. "$(dirname "${BASH_SOURCE[0]}")/java_env.sh"
exec java $ADD_OPENS -Xmx24g -cp "$CP" graft.StressBench "$SF" "$FACTOR"
