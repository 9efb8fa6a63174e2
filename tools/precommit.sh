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
# one memo mechanism: session-scoped artifacts go through
# StoredArtifacts.getOrBuild, never a per-owner map or evict hook
if grep -rnE 'clearStored|evictSession' src/main ||
   grep -rn 'ConcurrentHashMap' src/main/scala/graft/operators src/main/scala/graft/Tables.scala; then
  echo "memo outside StoredArtifacts.getOrBuild — refusing to commit" >&2
  exit 1
fi
# one path to the network stores: sources encode and decode documents
# through the connector wires (HttpRows), never Spark's JSON
# writer/reader over a Dataset[String]; JsonLinesSource reads files
if grep -rnE 'toJSON|to_json\(|\.json\(' src/main/scala/graft/sources \
     --exclude=JsonLinesSource.scala | grep -v 'HttpRows\.json('; then
  echo "Spark JSON codec under sources/ — use the connector wire" >&2
  exit 1
fi
# one materialization primitive: eager checkpoints go through
# util.pin, which counts the rows in the checkpoint's own job
if grep -rn '\.localCheckpoint(' src/main | grep -v '^src/main/scala/graft/util/'; then
  echo "bare localCheckpoint outside graft.util — use util.pin" >&2
  exit 1
fi
# one mutation path for the parquet sink: upsert, delete and sync run
# one protocol, so the commit precondition is observed at one site
if (( $(grep -c 'commitIO\.begin(' src/main/scala/graft/sources/ParquetUpsertSink.scala) > 1 )); then
  echo "more than one commitIO.begin( in ParquetUpsertSink — mutations share one protocol" >&2
  exit 1
fi
# one closure patch path: the ETL loop folds adds and deletes into the
# stored closure through Hierarchy.closurePatch, never a re-close over
# the from-scratch builder
if grep -rn 'incrementalClosureDelete' src ||
   grep -rn 'Hierarchy\.closure(' src/main/scala/graft/sources; then
  echo "second closure patch path — use Hierarchy.closurePatch" >&2
  exit 1
fi
# one pair core per near-dup signature: the hamming verify lives in
# Dedup.hammingPairs, the hot-array re-entry in Dedup.coocKernel
if (( $(grep -rn 'bit_count(col(' src/main/scala/graft/operators/ | wc -l) > 1 )) ||
   (( $(grep -c 'size(array_intersect(coalesce(' src/main/scala/graft/operators/Dedup.scala) > 1 )); then
  echo "second near-dup pair core — use Dedup.hammingPairs / Dedup.coocKernel" >&2
  exit 1
fi
# one pass per closure-patch fold round: the stored-depth probe reads
# the round's own aggregated pairs, never a broadcast of the candidate
# compositions (that re-evaluates them)
if grep -n 'broadcast(pairs(' src/main/scala/graft/operators/Hierarchy.scala; then
  echo "broadcast(pairs( in Hierarchy.scala re-evaluates a fold round's compositions" >&2
  exit 1
fi
# one micro-batch adapter: every streaming sink is util.perBatch over
# its batch twin, so src/main holds one .foreachBatch( call, in graft.util
if (( $(grep -rn '\.foreachBatch(' src/main | wc -l) > 1 )) ||
   grep -rn '\.foreachBatch(' src/main | grep -v '^src/main/scala/graft/util/'; then
  echo "more than one .foreachBatch( in src/main — use util.perBatch" >&2
  exit 1
fi
# one sketch source: sketch families come from Spark's built-ins
# (theta_*) or from graft's own expressions/, never a second copy
# written against the DataSketches library
if grep -rn 'org\.apache\.datasketches' src/main; then
  echo "org.apache.datasketches under src/main — use Spark's built-in sketches" >&2
  exit 1
fi
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
