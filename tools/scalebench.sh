#!/bin/bash
# Launch graft.ScaleBench outside sbt. Usage: tools/scalebench.sh <k> [names]
# Env: SPARK_DRIVER_MEM, SPARK_GRAFT_KX_ATTEMPTS.
exec "$(dirname "$0")/run.sh" ScaleBench "$@"
