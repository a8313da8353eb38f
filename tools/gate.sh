#!/usr/bin/env bash
# Round-end gate: refuse to snapshot-commit unless the build + tests are
# green. Round 2 shipped a snapshot that didn't compile; this script makes
# that impossible to repeat.
#
# Usage: tools/gate.sh "commit message"
#   runs the ROADMAP Tier-1 command (offline dependency resolution,
#   Test/compile, then the whole suite sized to this host); on success,
#   commits ALL current changes with the given message; on failure, prints
#   the tail and exits nonzero with the working tree untouched.
set -euo pipefail
cd "$(dirname "$0")/.."
msg="${1:?usage: tools/gate.sh \"commit message\"}"
log=$(mktemp)
# resolve only from the local coursier/ivy caches (no network)
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
# Spark sizing for the forked test JVM: every core, half the RAM (2-8g)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
sbt_batch() { timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "$@"; }
if ! { sbt_batch Test/compile && sbt_batch "testOnly *"; } >"$log" 2>&1; then
  echo "GATE FAILED — not committing. Last 40 lines:" >&2
  tail -40 "$log" >&2
  exit 1
fi
# informational only — the sbt exit code already gates; without `|| true`
# a wording change in sbt's summary would abort the gate under pipefail
grep -E "Tests: succeeded|All tests passed" "$log" | tail -2 || true
git add -A
if git diff --cached --quiet; then
  echo "gate green; nothing to commit"
else
  git commit -m "$msg"
fi
