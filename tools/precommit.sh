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
#      Beyond that, a staged file matching a row of the RULES table
#      below runs that row's specs (sbt testOnly) and adds its driver
#      entries to the Verify + tools/check.py smoke. The rows cover the
#      corpus-prep operators (CorpusPipeline, TextAnalysis); derived-state
#      maintenance (sources/Catalog.scala, Manifest.scala: MVs, text
#      index, SCD2 and their one commit protocol, with the crash-point
#      enumeration graft.CrashPointSpec); the Shell (graft/Shell.scala,
#      with graft.PlanDoctorSpec for `doctor!`); the SQL table functions
#      (functions/TableFunctions.scala); the replays and the batch as-of
#      join they are checked against (streaming/*.scala,
#      operators/AsOfJoin.scala); the general graph, event, PCA,
#      sampling and cumulative operators (operators/Graph.scala,
#      Events.scala, Similarity.scala, Sampling.scala, Cumulative.scala);
#      the near-dup and vector-search kernels (operators/Dedup.scala,
#      Multimodal.scala: the d_*, s_*, m_phash_dedup and p_leak_split
#      entries); the native SQL expressions and their one codegen stub
#      (functions/NativeKernel.scala and the ten expression files, with
#      graft.NativeKernelSpec comparing generated and interpreted
#      results; the re-driven entries between them call every
#      expression, including those the benchmark runs); and the table
#      loader every driver entry reads through
#      (graft/Tables.scala: schema resolution, timestamp flavors; its row
#      runs the plan audit and re-drives query_mix entries). Entry
#      fields may be globs over the entry names in SparkEntry.scala.
#      A staged change under graft/plans/ or to
#      functions/CosineSimilarity.scala (home of the GraftExtensions
#      session extensions) also runs PlanAuditSpec: session extensions
#      shape the plan of every driver entry.
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

# One row per staged-path rule: path regex; spec classes; driver
# entries to re-drive (comma-separated names or globs); what the specs
# cover. A row with no specs or no entries leaves that field empty.
RULES=(
  'operators/(CorpusPipeline|TextAnalysis)\.scala;graft.CorpusPipelineSpec graft.PrepareIncrementSpec graft.AttritionSpec;d_corpus_prep,d_prep_attrition,t_quality,t_lang_id,d_source_stats,d_quality_stream;corpus-prep'
  'sources/(Catalog|Manifest)\.scala;graft.TextIndexSpec graft.AutoMaintainSpec graft.Round7OpsSpec graft.Round7bOpsSpec graft.Round9DurabilitySpec graft.Scd2BackfillSpec graft.KmvMvSpec graft.Round13FixSpec graft.PartitionedLayoutSpec graft.CrashPointSpec;fs_incr_agg,fs_mv_lookup,fs_mv_stream,fs_bm25_indexed,fs_bm25_upsert,d_index_maint,e_scd2_stream,fs_scd2_backfill,fs_partition_prune;derived-state'
  'graft/Shell\.scala;graft.ShellProcedureSpec graft.Round10ShellSpec graft.PlanDoctorSpec;;shell'
  'functions/TableFunctions\.scala;graft.SqlFrontDoorSpec;;SQL table function'
  'graft/streaming/[^/]*\.scala|operators/AsOfJoin\.scala;graft.ReplaySpec graft.RocksDbStateSpec graft.StorageStreamingSpec graft.AsOfJoinSpec;e_asof,e_asof_tol,e_asof_fwd,e_asof_stream,sql_asof,e_session_stream,e_tumbling_stream,d_quality_stream,d_index_stream;streaming and as-of'
  'operators/(Graph|Events|Similarity|Sampling|Cumulative)\.scala;graft.Round6bOpsSpec graft.Round7bOpsSpec graft.Round9GraphSpec graft.Round9bOpsSpec graft.PcaSpec graft.PcaKSpec graft.Round12AdviceSpec graft.PcaProjectSpec graft.CumulativeSpec graft.CumulativePropertySpec graft.SqlFrontDoorSpec;g_pagerank,g_triangles,g_degree,g_bfs,g_harmonic,g_jaccard,g_kcore,g_cc,g_lpa,e_funnel,e_funnel_steps,e_funnel_rates,e_concurrency,e_sessionize,s_pca,s_pca_k,s_pca_project,p_epoch_plan,p_epoch_weighted;graph, event, PCA, sampling and cumulative'
  'operators/(Dedup|Multimodal)\.scala;graft.DedupAgainstSpec graft.AutoLadderRoutingSpec graft.MinhashRecallSpec graft.MinHashSigSpec graft.SimHashSigSpec graft.AttritionSpec graft.KeepBestSpec graft.PrepareIncrementSpec graft.BucketCapSpec graft.SemanticDedupSpec graft.ApplyDedupSpec graft.FuzzyDedupSpec graft.SilhouetteCentroidSpec graft.IvfQuantSpec graft.IvfAnnSpec graft.RerankHardNegSpec graft.MultimodalCodecSpec;d_*,s_*,m_phash_dedup,p_leak_split;dedup and vector'
  'functions/(NativeKernel|CosineSimilarity|DecayedSum|HitCount|MinHashSig|NearestCells|PortableHash60|RepetitionStats|ShingleHashes|SimHashSig|BloomFilterBits)\.scala;graft.CosineSimilaritySpec graft.NearestCellsSpec graft.HitCountSpec graft.NativeExprPropertySpec graft.PortableHash60VarargsSpec graft.MinHashSigSpec graft.SimHashSigSpec graft.ShingleHashesSpec graft.RepetitionStatsSpec graft.PortableHash60Spec graft.BloomJoinSpec graft.Round6OpsSpec graft.NativeKernelSpec;t_quality,t_lang_id,t_repetition,d_dedup_ngram,d_dedup_minhash,d_dedup_simhash,d_corpus_prep,s_ann_brute,s_ann_ivf,s_ann_upsert,q_bloom_semi,q_bloom_anti,q_kmv,q_sketch,e_ewma;native expression'
  'graft/Tables\.scala;graft.TablesSchemaSpec graft.TimestampFlavorSpec graft.TestdataContractSpec graft.PlanAuditSpec;q_word_count,q_avg_by_key,q_grep,q1_agg,q3_join;table-loader'
)

# Driver-entry smoke: any query name whose SparkEntry line is in the
# staged diff gets re-driven against the oracle (and the plan audit
# below runs over the full driver surface), together with the entries
# of every matching rule.
# the greps legitimately match nothing when the diff only touches
# oracle SQL bodies or comments — don't let pipefail kill the hook
entries=$(git diff --cached -U0 -- src/main/scala/graft/SparkEntry.scala \
  | { grep -E '^[+-]' || true; } | { grep -oE '"[a-z0-9_]+" *->' || true; } \
  | tr -d '" ' | sed 's/->$//' | sort -u | paste -sd, -)
all_entries=$(grep -oE '^    "[a-z0-9_]+" *->' "$checkdir/src/main/scala/graft/SparkEntry.scala" \
  | tr -d '" ' | sed 's/->$//' | sort -u)
touched=$entries
for rule in "${RULES[@]}"; do
  IFS=';' read -r path_re specs names label <<<"$rule"
  grep -qE "$path_re" <<<"$staged" || continue
  if [[ -n "$specs" ]]; then
    echo "precommit: $label specs..." >&2
    log="/tmp/precommit_${label//[^A-Za-z-]/_}.log"
    (cd "$checkdir" && sbt -batch "testOnly $specs" < /dev/null) > "$log" 2>&1 || {
      tail -30 "$log" >&2
      echo "precommit: REFUSED — $label specs failed" >&2
      exit 1
    }
  fi
  IFS=, read -ra pats <<<"$names"
  for pat in "${pats[@]}"; do
    while read -r e; do
      # $pat unquoted on purpose: an entry field may be a glob
      [[ -n "$e" && $e == $pat ]] && touched="$touched,$e"
    done <<<"$all_entries"
  done
done
touched=$(tr , '\n' <<<"$touched" | sed '/^$/d' | sort -u | paste -sd, -)

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
