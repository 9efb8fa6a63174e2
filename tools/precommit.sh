#!/usr/bin/env bash
# Build-green guard: never commit (or end a session) without a clean
# compile. Round 6 shipped a snapshot with a one-line compile error and
# lost the entire round's correctness gate (CORRECTNESS_r06 = {}).
#
# Usage:  tools/precommit.sh          # compile only (~20s warm)
#         tools/precommit.sh --test   # compile + full ScalaTest suite
#
# Wire it up as a git hook with:
#   ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile Test/compile >/tmp/precommit.log 2>&1 || {
  echo "COMPILE FAILED — refusing to commit. Last 30 lines:" >&2
  tail -30 /tmp/precommit.log >&2
  exit 1
}
echo "compile green"
# net src/main Scala lines — the design-size number ROADMAP tracks
echo "src/main scala lines: $(find src/main -name '*.scala' -print0 | xargs -0 cat | wc -l)"

if [[ "${1:-}" == "--test" ]]; then
  sbt -batch test >/tmp/precommit-test.log 2>&1 || {
    echo "TESTS FAILED — refusing to commit. Last 30 lines:" >&2
    tail -30 /tmp/precommit-test.log >&2
    exit 1
  }
  echo "tests green"
  # Plan-shape regression gate: broadcast/pushdown/pruning/no-cartesian
  # invariants over every gate query (graft.tools.ExplainAudit --check)
  sbt -batch "runMain graft.tools.ExplainAudit --check" >/tmp/precommit-audit.log 2>&1 || {
    echo "PLAN AUDIT FAILED — refusing to commit. Violations:" >&2
    grep -E "AUDIT (FAIL|ERROR)|== plan audit" /tmp/precommit-audit.log >&2
    exit 1
  }
  grep "== plan audit" /tmp/precommit-audit.log
fi
