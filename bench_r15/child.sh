#!/bin/bash
# run one BenchChild row in a fresh JVM like ChildJvm does
# usage: child.sh <kind> <row> <cpus> <xmx> [extra -D props...]
KIND=$1; ROW=$2; CPUS=$3; XMX=$4; shift 4
CP=$(cd "$(dirname "$0")/.." && sbt -batch -error "export Runtime/fullClasspath" | tail -1)
ADD="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
ROOT=$(mktemp -d /tmp/graft_exp_XXXX)
SPARK_GRAFT_CPUS=$CPUS java $ADD -Xmx$XMX -Dspark.ui.enabled=false -Dgraft.artifact.root=$ROOT "$@" -cp "$CP" graft.BenchChild $KIND $ROW /root/testdata/sf0.1 2>/dev/null
rm -rf $ROOT
