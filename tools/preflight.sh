#!/usr/bin/env bash
# Pre-commit / pre-snapshot guard (round-3 process fix, VERDICT.md r2 item 2).
#
# Round 2 shipped a snapshot whose TEST module did not compile, silently
# disabling all suites. This script is the checklist step that prevents that
# class of breakage: run it before every snapshot commit. It runs the same
# suite with the same settings as ROADMAP.md's Tier-1 command: offline
# dependency resolution, one Spark core per host CPU, a driver heap of half
# the host memory (2-8 GB), local scratch under /tmp/spark-local.
#
#   tools/preflight.sh          # compile main + test, run the full suite
#   tools/preflight.sh fast     # compile-only (mid-round sanity)
#
# Exits non-zero on any compile error or test failure.
set -euo pipefail
cd "$(dirname "$0")/.."

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

echo "[preflight] sbt Test/compile"
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile

if [[ "${1:-}" != "fast" ]]; then
  SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
  SPARK_LOCAL_DIRS=/tmp/spark-local
  export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM SPARK_LOCAL_DIRS
  echo "[preflight] sbt testOnly * (cpus=$SPARK_GRAFT_CPUS driver=$SPARK_DRIVER_MEM)"
  timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly *"
fi
echo "[preflight] OK"
