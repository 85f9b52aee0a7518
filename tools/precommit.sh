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
#      entries built on them the same way, and so does a staged change
#      to sources/Catalog.scala or sources/Manifest.scala (derived-state
#      maintenance: MVs, text index, SCD2, and their one commit
#      protocol) for its specs — the crash-point enumeration
#      (graft.CrashPointSpec) among them — and entries, and so does a staged
#      change to Tables.scala (the table loader every driver entry reads
#      through: schema resolution, timestamp flavors) for its specs, the
#      plan audit and the query_mix entries. A staged change under
#      graft/plans/ or to functions/CosineSimilarity.scala (home of the
#      GraftExtensions session extensions) also runs PlanAuditSpec:
#      session extensions shape the plan of every driver entry.
#      A staged Shell.scala runs the Shell's specs (graft.ShellProcedureSpec,
#      graft.Round10ShellSpec, and graft.PlanDoctorSpec for `doctor!`),
#      and a staged functions/TableFunctions.scala runs the SQL table
#      function spec (graft.SqlFrontDoorSpec). A staged streaming/*.scala
#      or operators/AsOfJoin.scala (the replays and the batch as-of join
#      they are checked against) runs graft.ReplaySpec,
#      graft.RocksDbStateSpec, graft.StorageStreamingSpec and
#      graft.AsOfJoinSpec, and re-drives the as-of and streaming entries.
#      A staged operators/Graph.scala, Events.scala, Similarity.scala,
#      Sampling.scala or Cumulative.scala (the general operators that the
#      specialised funnel, hop-distance, PCA, epoch-plan and running-scan
#      entries call) runs the specs covering those calls (graft.Round6bOpsSpec,
#      graft.Round7bOpsSpec, graft.Round9GraphSpec, graft.Round9bOpsSpec,
#      graft.PcaSpec, graft.PcaKSpec, graft.Round12AdviceSpec,
#      graft.PcaProjectSpec, graft.CumulativeSpec,
#      graft.CumulativePropertySpec, graft.SqlFrontDoorSpec) and re-drives
#      the g_*, e_funnel*, e_concurrency, e_sessionize, s_pca* and p_epoch*
#      entries.
#   3. A staged src/main or src/test Scala file, or a staged
#      tools/reach.py or tools/test_reach.py, runs the reachability
#      check (tools/reach.py, no JVM): every member of src/main must be
#      named outside its own body by src/main or perfbench/src, so
#      surface that only its specs call cannot land, and every
#      default-valued parameter of a src/main def must be set by some
#      call in src/main, perfbench/src or src/test. Specs count as
#      setters, so deleting a spec's override can newly flag a
#      parameter. tools/test_reach.py runs beside it. A commit that
#      touches only those two tools stops there, without a JVM.
#   4. The checks run against the STAGED snapshot: if any staged
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
code_re='\.(scala|sbt)$|^tools/(test_)?reach\.py$'
if ! grep -qE "$code_re" <<<"$staged"; then
  exit 0
fi

# If a staged code file also carries unstaged edits, the working tree
# is NOT the snapshot being committed — materialize the index and run
# every check from there instead.
checkdir="."
unstaged=$(git diff --name-only | grep -E "$code_re" || true)
if [[ -n "$unstaged" ]] && grep -qFxf <(echo "$unstaged") <<<"$staged"; then
  checkdir=$(mktemp -d /tmp/precommit_index.XXXX)
  echo "precommit: partial staging detected — checking index snapshot at $checkdir" >&2
  git checkout-index -a --prefix="$checkdir/"
  trap 'rm -rf "$checkdir"' EXIT
fi

if grep -qE '^src/(main|test)/.*\.scala$|^tools/(test_)?reach\.py$' <<<"$staged"; then
  echo "precommit: reachability check..." >&2
  python3 "$checkdir/tools/test_reach.py" > /tmp/precommit_reach.log 2>&1 &&
    python3 "$checkdir/tools/reach.py" "$checkdir" >> /tmp/precommit_reach.log 2>&1 || {
    tail -30 /tmp/precommit_reach.log >&2
    echo "precommit: REFUSED — unreached members or unset parameters in src/main (tools/reach.py)" >&2
    exit 1
  }
fi

if ! grep -qE '\.(scala|sbt)$' <<<"$staged"; then
  echo "precommit: green" >&2
  exit 0
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
  (cd "$checkdir" && sbt -batch "testOnly graft.CorpusPipelineSpec graft.PrepareIncrementSpec graft.AttritionSpec" < /dev/null) \
      > /tmp/precommit_prep.log 2>&1 || {
    tail -30 /tmp/precommit_prep.log >&2
    echo "precommit: REFUSED — corpus-prep specs failed" >&2
    exit 1
  }
fi

catalog_re='sources/(Catalog|Manifest)\.scala'
if grep -qE "$catalog_re" <<<"$staged"; then
  echo "precommit: derived-state specs..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.TextIndexSpec graft.AutoMaintainSpec graft.Round7OpsSpec graft.Round7bOpsSpec graft.Round9DurabilitySpec graft.Scd2BackfillSpec graft.KmvMvSpec graft.Round13FixSpec graft.PartitionedLayoutSpec graft.CrashPointSpec" < /dev/null) \
      > /tmp/precommit_catalog.log 2>&1 || {
    tail -30 /tmp/precommit_catalog.log >&2
    echo "precommit: REFUSED — derived-state specs failed" >&2
    exit 1
  }
fi

shell_re='graft/Shell\.scala'
if grep -qE "$shell_re" <<<"$staged"; then
  echo "precommit: shell specs..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.ShellProcedureSpec graft.Round10ShellSpec graft.PlanDoctorSpec" < /dev/null) \
      > /tmp/precommit_shell.log 2>&1 || {
    tail -30 /tmp/precommit_shell.log >&2
    echo "precommit: REFUSED — shell specs failed" >&2
    exit 1
  }
fi

tvf_re='functions/TableFunctions\.scala'
if grep -qE "$tvf_re" <<<"$staged"; then
  echo "precommit: SQL table function specs..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.SqlFrontDoorSpec" < /dev/null) \
      > /tmp/precommit_tvf.log 2>&1 || {
    tail -30 /tmp/precommit_tvf.log >&2
    echo "precommit: REFUSED — SQL table function specs failed" >&2
    exit 1
  }
fi

stream_re='graft/streaming/[^/]*\.scala|operators/AsOfJoin\.scala'
if grep -qE "$stream_re" <<<"$staged"; then
  echo "precommit: streaming and as-of specs..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.ReplaySpec graft.RocksDbStateSpec graft.StorageStreamingSpec graft.AsOfJoinSpec" < /dev/null) \
      > /tmp/precommit_stream.log 2>&1 || {
    tail -30 /tmp/precommit_stream.log >&2
    echo "precommit: REFUSED — streaming and as-of specs failed" >&2
    exit 1
  }
fi

ops_re='operators/(Graph|Events|Similarity|Sampling|Cumulative)\.scala'
if grep -qE "$ops_re" <<<"$staged"; then
  echo "precommit: graph, event, PCA, sampling and cumulative specs..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.Round6bOpsSpec graft.Round7bOpsSpec graft.Round9GraphSpec graft.Round9bOpsSpec graft.PcaSpec graft.PcaKSpec graft.Round12AdviceSpec graft.PcaProjectSpec graft.CumulativeSpec graft.CumulativePropertySpec graft.SqlFrontDoorSpec" < /dev/null) \
      > /tmp/precommit_ops.log 2>&1 || {
    tail -30 /tmp/precommit_ops.log >&2
    echo "precommit: REFUSED — graph, event, PCA, sampling and cumulative specs failed" >&2
    exit 1
  }
fi

tables_re='graft/Tables\.scala'
if grep -qE "$tables_re" <<<"$staged"; then
  echo "precommit: table-loader specs..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.TablesSchemaSpec graft.TimestampFlavorSpec graft.TestdataContractSpec graft.PlanAuditSpec" < /dev/null) \
      > /tmp/precommit_tables.log 2>&1 || {
    tail -30 /tmp/precommit_tables.log >&2
    echo "precommit: REFUSED — table-loader specs failed" >&2
    exit 1
  }
fi

# Driver-entry smoke: any query name whose SparkEntry line is in the
# staged diff gets re-driven against the oracle, and the plan audit
# runs over the full driver surface.
# Corpus-prep operator, Catalog, streaming/as-of, graph/event/PCA/
# sampling/cumulative operator and Tables changes re-drive the entries
# that run them.
if grep -qE "SparkEntry\.scala|$prep_re|$catalog_re|$stream_re|$ops_re|$tables_re" <<<"$staged"; then
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
  if grep -qE "$catalog_re" <<<"$staged"; then
    touched=$(tr , '\n' <<<"$touched,fs_incr_agg,fs_mv_lookup,fs_mv_stream,fs_bm25_indexed,fs_bm25_upsert,d_index_maint,e_scd2_stream,fs_scd2_backfill,fs_partition_prune" \
      | sed '/^$/d' | sort -u | paste -sd, -)
  fi
  if grep -qE "$stream_re" <<<"$staged"; then
    touched=$(tr , '\n' <<<"$touched,e_asof,e_asof_tol,e_asof_fwd,e_asof_stream,sql_asof,e_session_stream,e_tumbling_stream,d_quality_stream,d_index_stream" \
      | sed '/^$/d' | sort -u | paste -sd, -)
  fi
  if grep -qE "$ops_re" <<<"$staged"; then
    touched=$(tr , '\n' <<<"$touched,g_pagerank,g_triangles,g_degree,g_bfs,g_harmonic,g_jaccard,g_kcore,g_cc,g_lpa,e_funnel,e_funnel_steps,e_funnel_rates,e_concurrency,e_sessionize,s_pca,s_pca_k,s_pca_project,p_epoch_plan,p_epoch_weighted" \
      | sed '/^$/d' | sort -u | paste -sd, -)
  fi
  if grep -qE "$tables_re" <<<"$staged"; then
    touched=$(tr , '\n' <<<"$touched,q_word_count,q_avg_by_key,q_grep,q1_agg,q3_join" \
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
fi

# Plan audit over the full driver surface: new or changed driver
# entries, and anything that re-plans all of them (plans/, extensions).
if [[ -n "${entries:-}" ]] ||
    grep -qE 'src/main/scala/graft/plans/|functions/CosineSimilarity\.scala' <<<"$staged"; then
  echo "precommit: plan audit (graft.PlanAuditSpec)..." >&2
  (cd "$checkdir" && sbt -batch "testOnly graft.PlanAuditSpec" < /dev/null) \
      > /tmp/precommit_audit.log 2>&1 || {
    tail -30 /tmp/precommit_audit.log >&2
    echo "precommit: REFUSED — PlanAuditSpec failed" >&2
    exit 1
  }
fi

echo "precommit: green" >&2
