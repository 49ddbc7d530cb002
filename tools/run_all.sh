#!/bin/bash
# Full driver-simulation: compile, test, verify + oracle compare, bench,
# capstone ETL, for the checkout this script lives in. Usage: tools/run_all.sh
# pipefail: a failing step stops the run even when its output is piped
set -e -o pipefail
. "$(dirname "${BASH_SOURCE[0]}")/java_env.sh"
cd "$ROOT"
# sbt resolves offline, as in the tier-1 test line
export COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
# one core per host CPU, half the host's RAM for the heap (2-8 GB)
CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)
echo "== compile"; sbt -batch compile | tail -1
echo "== test"; sbt -batch test 2>&1 | grep -E 'Tests:' | tail -1
echo "== verify sf0.01"
# check_oracle.py below judges Verify's output; a failed query shows there
rm -rf /tmp/graft_verify && ./tools/run_verify.sh /root/testdata/sf0.01 /tmp/graft_verify 2>&1 | grep '\[verify\]' || true
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/graft_verify | tail -3
echo "== bench sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=$CPUS java $ADD_OPENS -Xmx$HEAP -cp "$CP" graft.Bench 2>/dev/null | tail -1
echo "== capstone ETL"
rm -rf /tmp/graft_capstone && java $ADD_OPENS -Xmx$HEAP -cp "$CP" graft.pipeline.RunCapstone src/test/resources/reference/cp.cfg /tmp/graft_capstone 2>/dev/null | tail -1
