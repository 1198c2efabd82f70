#!/usr/bin/env bash
# Pre-snapshot gate: the full local pipeline, or no commit.
#
# Round 6 ended with a snapshot whose last edit had never been compiled —
# one bad token cost the round its correctness artifact, its bench
# artifact, and `sbt test`. This script makes that failure mode a
# one-command check: list main definitions nothing references
# (tools/reach.py; any one not on its allowlist fails the gate), list
# scaladoc blocks that sit above another doc block instead of a
# definition (tools/docorphans.py; any one fails the gate), compile
# (main + test), run every ScalaTest suite,
# dump every registered query at sf0.01, and hash-compare each against
# its DuckDB oracle. Exit 0 = the tree is shippable. The wall seconds of
# the test step and of the Verify step are printed as `PREGATE <step>:`.
#
#   tools/pregate.sh            # gate at sf0.01 (the driver's gate SF)
#   tools/pregate.sh sf0.001    # gate at another SF
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-sf0.01}"
OUT="/tmp/pregate_${SF}"

# The ROADMAP tier-1 command's settings: offline dependency resolution
# (a caller's own COURSIER_MODE / SBT_OPTS win) and one Spark core per CPU.
export COURSIER_MODE="${COURSIER_MODE:-offline}"
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"

# Runs "$@" and prints its wall seconds, pass or fail, so one run reports
# the tier-1 test time and the Verify time; keeps the exit status.
timed() {
  local label=$1 t0=$SECONDS rc=0
  shift
  "$@" || rc=$?
  echo "PREGATE $label: $((SECONDS - t0)) s wall (exit $rc)"
  return "$rc"
}

verify() {
  rm -rf "$OUT"
  sbt -batch "runMain graft.Verify $HOME/testdata/$SF $OUT" &&
    python3 tools/verify_local.py "$HOME/testdata/$SF" "$OUT"
}

timed "reach step" python3 tools/reach.py
timed "doc step" python3 tools/docorphans.py
timed "test step" sbt -batch Test/compile test
timed "Verify step ($SF)" verify
echo "PREGATE OK ($SF)"
