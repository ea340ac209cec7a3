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
#   tools/preflight.sh          # compile main + test, run the full suite,
#                               # fail if it left a new graft_* or graft-*
#                               # entry in /tmp or in graft.util.Scratch's
#                               # base, or wrote a spark-warehouse/ in the
#                               # repo root; then print the line counts of
#                               # sources/, src/main and src/test
#   tools/preflight.sh fast     # compile-only (mid-round sanity)
#   tools/preflight.sh oracle [sfDir]
#                               # compile, run graft.Verify on sfDir
#                               # (default /root/testdata/sf0.01) into a
#                               # fresh temp dir, compare it with
#                               # tools/parity.py, remove the dir
#
# Every mode first checks the session structure: src/ builds a
# SparkSession only in util/Session.scala, and src/main installs
# optimizer rules, strategies and SQL functions only in
# plans/GraftExtensions.scala.
#
# Exits non-zero on a structure breach, any compile error, test failure,
# leaked temp entry, or oracle key that fails its compare or has no output.
set -euo pipefail
cd "$(dirname "$0")/.."

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

echo "[preflight] session structure"
structure="$(grep -rn 'SparkSession\.builder' src | grep -v '^src/main/scala/graft/util/Session\.scala:' || true
  grep -rnE 'extra(Optimizations|Strategies) *(\+\+|:\+)?=([^=>]|$)|createOrReplaceTempFunction' src/main |
    grep -v '^src/main/scala/graft/plans/GraftExtensions\.scala:' || true)"
if [[ -n "$structure" ]]; then
  echo "[preflight] FAIL: a session built or installed outside its one place:" >&2
  echo "$structure" >&2
  exit 1
fi

echo "[preflight] sbt Test/compile"
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile

mode="${1:-}"
if [[ "$mode" != "fast" ]]; then
  SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
  SPARK_LOCAL_DIRS=/tmp/spark-local
  export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM SPARK_LOCAL_DIRS
fi

if [[ "$mode" == "oracle" ]]; then
  sf_dir="${2:-/root/testdata/sf0.01}"
  out="$(mktemp -d -p /tmp preflight_oracle.XXXXXX)"
  trap 'rm -rf "$out"' EXIT
  echo "[preflight] graft.Verify $sf_dir (cpus=$SPARK_GRAFT_CPUS driver=$SPARK_DRIVER_MEM)"
  timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $sf_dir $out"
  echo "[preflight] tools/parity.py"
  python3 tools/parity.py "$out" "$sf_dir"
elif [[ "$mode" != "fast" ]]; then
  # every spec temp dir lives under one per-JVM root its exit hook removes,
  # and so does graft.util.Scratch's graft_run_* root (its base, resolved
  # the same way: $SPARK_GRAFT_SCRATCH, else a writable /dev/shm, else
  # /tmp); a graft_* entry in either newer than this marker is a leak, and
  # so is a graft-* one (the rewrite dirs DROP COLUMN and OPTIMIZE create
  # under java.io.tmpdir) or a spark-warehouse/ in the repo root (a
  # session built without a spark.sql.warehouse.dir writes one into its
  # working directory)
  scratch_base="${SPARK_GRAFT_SCRATCH:-}"
  if [[ -z "$scratch_base" ]]; then
    if [[ -d /dev/shm && -w /dev/shm ]]; then scratch_base=/dev/shm; else scratch_base=/tmp; fi
  fi
  marker="$(mktemp -p /tmp preflight_marker.XXXXXX)"
  trap 'rm -f "$marker"' EXIT
  echo "[preflight] sbt testOnly * (cpus=$SPARK_GRAFT_CPUS driver=$SPARK_DRIVER_MEM)"
  timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly *"
  leaked="$(find /tmp "$scratch_base" -maxdepth 1 \( -name 'graft_*' -o -name 'graft-*' \) -newer "$marker" | sort -u
    find . -maxdepth 1 -name spark-warehouse -newer "$marker")"
  if [[ -n "$leaked" ]]; then
    echo "[preflight] FAIL: the test run left temp entries behind:" >&2
    echo "$leaked" >&2
    exit 1
  fi
  # the code size every change reports, by the one line counter
  echo "[preflight] tools/loc.sh"
  tools/loc.sh src/main/scala/graft/sources src/main src/test
fi
echo "[preflight] OK"
