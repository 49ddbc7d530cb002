#!/bin/bash
# Run graft.Bench outside sbt. Usage: run_bench.sh [sfdir] [only_csv]
# only_csv: optional comma-separated query names (SPARK_GRAFT_ONLY filter).
set -e
SF=${1:-/root/testdata/sf0.1}
ONLY=${2:-}
. "$(dirname "${BASH_SOURCE[0]}")/java_env.sh"
# one core per host CPU and half the host's RAM for the heap (2-8 GB),
# as the tier-1 test line sizes SPARK_DRIVER_MEM
CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_ONLY="$ONLY" \
exec java $ADD_OPENS -Xmx$HEAP \
  -cp "$CP" graft.Bench
