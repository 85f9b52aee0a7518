#!/usr/bin/env bash
# Pre-commit gate — makes the round-7 failure class (committing a
# SparkEntry that does not compile) unrepeatable:
#   1. `sbt compile` must be green before ANY commit lands.
#   2. If the staged diff touches SparkEntry.scala driver entries, the
#      touched query names are re-driven through graft.Verify at
#      sf0.001 and compared against the DuckDB oracle (tools/check.py)
#      — a smoke of the driver's real gate (which runs at sf0.01) —
#      and graft.PlanAuditSpec runs so a new driver entry can never
#      ship with an unaudited plan shape (the round-8 failure class).
#      A staged change to the corpus-prep operators (CorpusPipeline,
#      TextAnalysis) runs their specs and re-drives the SparkEntry
#      entries built on them the same way.
#   3. The checks run against the STAGED snapshot: if any staged
#      .scala/.sbt file also has unstaged edits, the index is
#      materialized via git checkout-index into a temp dir and checked
#      there, so partial staging cannot sneak a non-compiling tree in.
#
# Install:   ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
# Bypass (emergencies only): GRAFT_SKIP_PRECOMMIT=1 git commit ...
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"

if [[ "${GRAFT_SKIP_PRECOMMIT:-}" == "1" ]]; then
  echo "precommit: skipped by GRAFT_SKIP_PRECOMMIT=1" >&2
  exit 0
fi

staged=$(git diff --cached --name-only)

# Doc-only commits don't need a JVM.
if ! grep -qE '\.(scala|sbt)$' <<<"$staged"; then
  exit 0
fi

# If a staged code file also carries unstaged edits, the working tree
# is NOT the snapshot being committed — materialize the index and run
# every check from there instead.
checkdir="."
unstaged=$(git diff --name-only | grep -E '\.(scala|sbt)$' || true)
if [[ -n "$unstaged" ]] && grep -qFxf <(echo "$unstaged") <<<"$staged"; then
  checkdir=$(mktemp -d /tmp/precommit_index.XXXX)
  echo "precommit: partial staging detected — checking index snapshot at $checkdir" >&2
  git checkout-index -a --prefix="$checkdir/"
  trap 'rm -rf "$checkdir"' EXIT
fi

echo "precommit: sbt compile..." >&2
(cd "$checkdir" && sbt -batch compile < /dev/null) \
    > /tmp/precommit_compile.log 2>&1 || {
  tail -20 /tmp/precommit_compile.log >&2
  echo "precommit: REFUSED — sbt compile failed" >&2
  exit 1
}

prep_re='operators/(CorpusPipeline|TextAnalysis)\.scala'
if grep -qE "$prep_re" <<<"$staged"; then
  echo "precommit: corpus-prep specs..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.CorpusPipelineSpec graft.StagedPipelineSpec graft.PrepareIncrementSpec graft.AttritionSpec" < /dev/null) \
      > /tmp/precommit_prep.log 2>&1 || {
    tail -30 /tmp/precommit_prep.log >&2
    echo "precommit: REFUSED — corpus-prep specs failed" >&2
    exit 1
  }
fi

# Driver-entry smoke: any query name whose SparkEntry line is in the
# staged diff gets re-driven against the oracle, and the plan audit
# runs over the full driver surface.
# Corpus-prep operator changes re-drive the entries that run them.
if grep -qE "SparkEntry\.scala|$prep_re" <<<"$staged"; then
  # the greps legitimately match nothing when the diff only touches
  # oracle SQL bodies or comments — don't let pipefail kill the hook
  touched=$(git diff --cached -U0 -- src/main/scala/graft/SparkEntry.scala \
    | { grep -E '^[+-]' || true; } | { grep -oE '"[a-z0-9_]+" *->' || true; } \
    | tr -d '" ' | sed 's/->$//' | sort -u | paste -sd, -)
  entries=$touched
  if grep -qE "$prep_re" <<<"$staged"; then
    touched=$(tr , '\n' <<<"$touched,d_corpus_prep,d_prep_attrition,t_quality,t_lang_id,d_source_stats,d_quality_stream" \
      | sed '/^$/d' | sort -u | paste -sd, -)
  fi
  if [[ -n "$touched" ]]; then
    echo "precommit: oracle smoke on touched entries: $touched" >&2
    out=$(mktemp -d /tmp/precommit_verify.XXXX)
    java $(for p in java.base/java.lang java.base/java.lang.invoke \
        java.base/java.lang.reflect java.base/java.io java.base/java.net \
        java.base/java.nio java.base/java.util \
        java.base/java.util.concurrent \
        java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
        java.base/sun.nio.cs java.base/sun.security.action \
        java.base/sun.util.calendar; do \
          echo --add-opens $p=ALL-UNNAMED; done) \
      -Xmx4g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "$checkdir/target/scala-2.13/classes:/opt/spark/jars/*" \
      graft.Verify /root/testdata/sf0.001 "$out" "$touched" \
        > /tmp/precommit_verify.log 2>&1 || {
      tail -20 /tmp/precommit_verify.log >&2
      echo "precommit: REFUSED — graft.Verify failed on $touched" >&2
      exit 1
    }
    python3 tools/check.py /root/testdata/sf0.001 "$out" \
        > /tmp/precommit_check.log 2>&1 || {
      tail -20 /tmp/precommit_check.log >&2
      echo "precommit: REFUSED — oracle mismatch on $touched" >&2
      exit 1
    }
    rm -rf "$out"
  fi
  if [[ -n "$entries" ]]; then
    echo "precommit: plan audit (graft.PlanAuditSpec)..." >&2
    (cd "$checkdir" && sbt -batch "testOnly graft.PlanAuditSpec" < /dev/null) \
        > /tmp/precommit_audit.log 2>&1 || {
      tail -30 /tmp/precommit_audit.log >&2
      echo "precommit: REFUSED — PlanAuditSpec failed" >&2
      exit 1
    }
  fi
fi

echo "precommit: green" >&2
