# Sourced by the tools/ launchers. Sets ROOT to the checkout this file
# lives in, CP to that checkout's compiled classes plus Spark's jars, and
# ADD_OPENS to the JDK 17 module opens Spark needs outside spark-submit.
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
CP="$ROOT/target/scala-2.13/classes:$(ls "${SPARK_HOME:-/opt/spark}"/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
