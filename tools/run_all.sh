#!/bin/bash
# Full driver-simulation: compile, test, verify + oracle compare, bench,
# capstone ETL. Usage: tools/run_all.sh
set -e
cd /root/repo
echo "== compile"; sbt -batch compile | tail -1
echo "== test"; sbt -batch test 2>&1 | grep -E 'Tests:' | tail -1
echo "== verify sf0.01"
rm -rf /tmp/graft_verify && ./tools/run_verify.sh /root/testdata/sf0.01 /tmp/graft_verify 2>&1 | grep '\[verify\]' || true
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/graft_verify | tail -3
# the check's own exit status: tail's would hide a failure from set -e
[ "${PIPESTATUS[0]}" -eq 0 ]
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
echo "== bench sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 java $AO -Xmx8g -cp "$CP" graft.Bench 2>/dev/null | tail -1
echo "== capstone ETL"
rm -rf /tmp/graft_capstone && java $AO -Xmx8g -cp "$CP" graft.pipeline.RunCapstone src/test/resources/reference/cp.cfg /tmp/graft_capstone 2>/dev/null | tail -1
