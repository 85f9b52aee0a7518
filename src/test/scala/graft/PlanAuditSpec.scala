package graft

/** Whole-surface plan audit: every driver query is planned (not run)
  * and checked for the silent scale-killers. Catches a regression the
  * per-operator specs can't: an innocent-looking change that degrades
  * a join into a cross product plans fine, runs fine at sf0.001, and
  * dies at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  // detection primitives shared with the user-facing linter
  // (plans.PlanDoctor) — the library lint and this gate cannot drift

  // every check below runs over TestSurface's ONE shared construction
  // of the full query surface (building a replay entry's frame runs
  // its replay — three independent passes here plus the non-empty
  // smoke cost ~10 min of the driver's test budget before round 14)

  test("no query plans a CartesianProduct") {
    val offenders = TestSurface.sparkPlans.collect {
      case (name, plan) if plans.PlanDoctor.hasCartesianPlan(plan) => name
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("BroadcastNestedLoopJoin appears only under a broadcast of bounded metadata") {
    // a BNLJ is legitimate ONLY where documented:
    //  - 1-row-aggregate cross joins (tfidf's corpus count, wsample's
    //    max weight, corpus_prep's composition of both)
    //  - s_ann_brute: keyless by nature — the corpus streams once past
    //    a broadcast query set bounded by maxQueryId
    //  - d_dedup_embed: the documented O(n²) exact baseline;
    //    Dedup.embeddingDedup routes to semanticDedup above the size
    //    threshold so this plan is unreachable by default at scale
    //  - q_moving_avg: the year→carry-candidate range join — the
    //    broadcast side is the per-year tail table (≤ 6·#years rows)
    //  - q22_idle: the 1-row positive-balance aggregate (the scalar
    //    subquery) cross-joined into the customer scan
    //  - q_kmv_join: the 1×1 join of the two single-row sketch
    //    aggregates (the whole point — estimates without a real join)
    //  - d_select_target: the 1-row corpus-totals aggregate broadcast
    //    into the per-doc frame (the q22 scalar-threshold shape)
    //  - p_temperature: the 1-row min-stratum-count aggregate broadcast
    //    into the per-doc frame (same shape as p_wsample's max)
    //  - e_late_audit: the 1-row user-id-bounds aggregate broadcast
    //    into the events scan (the width_bucket banding input)
    //  - t_keyword_topk: rides t_tfidf's 1-row corpus count
    //  - d_dedup_sweep: the 1×1 cross of the pair-grain and doc-grain
    //    summary aggregates (one bounded output row)
    //  - d_drift_ks: the 1-row (n_a, n_b) totals aggregate broadcast
    //    into the distinct-value frame before the argmax
    //  - p_epoch_weighted: the 1-row Σw aggregate broadcast into the
    //    ≤|sources|-row inventory; p_epoch_plan is its unit-weight
    //    projection
    //  - p_curriculum: the 1-row quartile-cutoffs aggregate broadcast
    //    into the quality scan
    //  - t_vocab_card: the 1×1 cross of the vocabulary-stats and
    //    head-mass aggregates (one bounded output row)
    //  - s_knn_graph: rides s_ann_brute's keyless shape with the whole
    //    (bounded at this surface) corpus as the query set — the scale
    //    route feeds ivfSearch output to the same mutual filter
    // anywhere else it means an equi-join lost its keys
    val allowed = Set("t_tfidf", "p_wsample", "d_corpus_prep",
      "s_ann_brute", "d_dedup_embed", "q_moving_avg", "q22_idle",
      "q_kmv_join", "d_select_target", "p_temperature",
      "e_late_audit", "t_keyword_topk", "d_dedup_sweep",
      "d_drift_ks", "p_epoch_plan", "p_epoch_weighted",
      "p_curriculum", "t_vocab_card", "s_knn_graph",
      // q_kmv_setops: q_kmv_join's 1x1 single-row sketch cross, plus
      // the union/difference columns
      "q_kmv_setops",
      // q_skyline: runningMin's 1-row bounds broadcast — the constant
      // __g group folds its equality away (the d_drift_ks shape)
      "q_skyline",
      // q_abc / q_lorenz: the 1-row grand-total broadcast into the
      // distinct-value frame (q_lorenz adds the 10-row decile-range
      // table — bounded ≤10× fan-out on value-grain rows)
      "q_abc", "q_lorenz",
      // q11_important: the 1-row grand-total broadcast into the
      // part-grain value frame (the q_abc shape; the fact scan itself
      // is an equi semi join + keyed aggregate)
      "q11_important",
      // q_benford: the 1-row order-count aggregate into the 9-row card
      "q_benford",
      // q_basket_rules: the 1-row basket-universe count into the
      // part-grain rule table
      "q_basket_rules",
      // q_rfm: the 1-row max-date broadcast into the orders scan and
      // the 1-row median-cutoffs broadcast into the customer frame
      // (the p_curriculum shape)
      "q_rfm",
      // s_radius: s_ann_brute's keyless shape with a threshold filter
      "s_radius",
      // s_hard_negatives: s_ann_brute's keyless bounded-query-broadcast
      // scan with the label inequality fused in; the scale route is
      // hardNegativesIvf (equi-joined candidate fetch off the probed
      // int8 search); the sql_ spelling resolves to the SAME plan
      // (the TVF contract), so it carries the same justification
      "s_hard_negatives", "sql_hard_negatives",
      // s_mmr: candidate generation rides s_ann_brute's audited
      // bounded-query-broadcast scan; the greedy rerank after it is
      // all equi-joins at per-query candidate grain
      "s_mmr",
      // q_ttest: the ≤|types|²-row theta self-cross of the |types|-row
      // moments aggregate (the q_kmv_join bounded-metadata class)
      "q_ttest",
      // q_survival: the 1-row horizon + duration-total broadcasts (the
      // q_rfm max-date class) + runningSum's bounds over the constant
      // __g group at calendar-bounded day grain
      "q_survival",
      // s_ann_recall: the recall card's exact arm composes
      // bruteForceTopK — s_ann_brute's audited bounded-query-broadcast
      // shape (an exact baseline must scan the corpus per query by
      // definition); the IVF arm under measurement is equi-joined
      "s_ann_recall",
      // d_datasheet: 1×1 crosses of the three bounded stat aggregates
      // (the t_vocab_card shape, metric grain after)
      "d_datasheet",
      // fs_histogram: the 1-row total + cutoff broadcasts over the
      // distinct-value frame (the q_abc shape)
      "fs_histogram",
      // e_concurrency: runningSum's folded constant-group bounds
      // broadcast over the distinct-boundary frame (the q_abc shape)
      "e_concurrency",
      // e_acf: the 1-row moments (n, S) and 1-row den aggregates
      // broadcast over the calendar-bounded hour series
      "e_acf",
      // q_chi2: the 1-row grand-total broadcast into the bounded
      // contingency-cell table (the q_benford shape)
      "q_chi2",
      // s_dbscan: rides d_dedup_embed's documented exact O(n²) pair
      // mine (size-routed to SemDeDup cells past exactMaxRows)
      "s_dbscan",
      // s_silhouette: the same keyless exact pair scan; its scale
      // route is IMPLEMENTED as s_silhouette_centroid (linear cost)
      "s_silhouette",
      // s_silhouette_centroid: the bounded ≤|labels|-row centroid
      // table broadcast-crossed into the corpus scan (the
      // p_curriculum class of bounded-metadata fanout — no pair scan)
      "s_silhouette_centroid",
      // fs_ttl: the 1-row snapshot read-back aggregate crossed into
      // the 1-row audit card (a 1x1 join)
      "fs_ttl",
      // p_token_budget: runningSum's 1-row bounds broadcast over the
      // constant __g group (the q_abc shape — bounded metadata)
      "p_token_budget",
      // q_mwu: runningSum's 1-row bounds broadcast over the constant
      // __g group at distinct-cents-value grain (the q_abc shape)
      "q_mwu",
      // drift cards: the 1-row snapshot totals broadcast-crossed into
      // the category-grain diff frame (the q_chi2 grand-total shape);
      // sql_drift is the TVF spelling of the same plan, the streamed
      // twin reads the same fold at category grain
      "d_drift", "sql_drift", "e_drift_stream",
      // BM25 family: the 1-row corpus stats (n_docs, sum_dl)
      // broadcast-crossed into QUERY-TERM-pruned tf grain (never the
      // token scan), plus the ≤|query|-row df broadcast — bounded
      // metadata on both sides of every cross
      "t_bm25", "sql_bm25", "fs_bm25_indexed", "fs_bm25_upsert",
      "d_index_stream",
      // round 12: the same BM25 stats-cross shape over the
      // auto-maintained live index, and the PHRASE forms (whose extra
      // crosses are the ≤|phrase| per-doc position-array joins at
      // pruned-postings grain + the 1-row stats)
      "d_index_maint", "t_bm25_phrase",
      "fs_bm25_phrase_idx", "sql_bm25_phrase",
      // t_mlt: the identical BM25 stats-cross — 1-row corpus stats
      // into picked-term-pruned tf grain; the query terms are
      // data-derived but a ≤topTerms bounded set collected before the
      // scoring plan exists, so both cross sides stay bounded metadata
      "t_mlt",
      // e_drift_numeric: every cross is sketch-grain bounded metadata —
      // the 9-row decile/ref-value table into the ≤2k-row sample, the
      // 1-row n_ref/n_cur totals, and the 1-row ks max into the 9-row
      // card (the d_drift grand-total class, one grain smaller)
      "e_drift_numeric",
      // t_quality_auc: runningSum's 1-row bounds broadcast over the
      // constant __g group at distinct-score grain (the q_mwu shape)
      "t_quality_auc")
    val offenders = TestSurface.sparkPlans.collect {
      case (name, plan)
        if plans.PlanDoctor.hasBnljPlan(plan) && !allowed(name) => name
    }
    assert(offenders.isEmpty, s"unexpected nested-loop joins in: $offenders")
  }

  test("every window over corpus data carries a partition spec") {
    // an unpartitioned window moves ALL data to one task; allowed only
    // for the 128-row bucket-offset cumsum in the prefix-sum operators
    // (p_manifest reuses p_shuffle's assignment, so it carries the
    // same bounded offset window) and for t_char_ngrams' rank window,
    // which runs AFTER the TakeOrdered limit — ≤k rows by construction
    // e_late_audit carries the same bounded offset shape: its one
    // unpartitioned window runs over per-(hour, user-band) maxima —
    // ≤ hours×128 rows of metadata, never the corpus. d_drift_ks'
    // constant group column folds away in the optimizer, leaving its
    // ≤128-row bucket-offset cumsum formally unpartitioned — same
    // bounded-metadata shape.
    // q_skyline: runningMin's per-group bucket-offset scan — the
    // constant __g group folds away leaving the ≤128-row offset window
    // formally unpartitioned, same bounded-metadata shape as d_drift_ks
    // p_interleave: two shuffleOrder prefix sums — the same ≤128-row
    // bucket-offset window as p_shuffle, once per side
    // q_abc / q_lorenz: runningSum over the constant __g group — the
    // ≤128-row bucket-offset window folds formally unpartitioned, the
    // same bounded-metadata shape as q_skyline/d_drift_ks
    // fs_histogram / e_concurrency: same constant-__g runningSum shape
    // as q_abc (bounded bucket-offset window)
    // p_token_budget: runningSum over the constant __g group — the
    // ≤128-row bucket-offset window folds formally unpartitioned, the
    // same bounded-metadata shape as q_abc/q_skyline
    // q_survival: two constant-__g runningSum passes at calendar-
    // bounded DAY grain (the e_acf bounded-calendar class)
    // q_mwu: one constant-__g runningSum pass at distinct-cents-value
    // grain — the same ≤128-row bucket-offset window as q_abc
    // t_quality_auc: one constant-__g runningSum pass at distinct-
    // 6-decimal-score grain — the same ≤128-row bucket-offset window
    // as q_mwu
    val allowed = Set("p_pack", "p_shuffle", "p_manifest", "t_char_ngrams",
      "e_late_audit", "d_drift_ks", "q_skyline", "p_interleave",
      "q_abc", "q_lorenz", "fs_histogram", "e_concurrency",
      "p_token_budget", "q_survival", "q_mwu", "t_quality_auc")
    // partition expressions precede the sort orders; a spec whose
    // FIRST argument is already a sort order has no partition at all
    // (the check itself lives in PlanDoctor.hasUnpartitionedWindow)
    val offenders = TestSurface.optimizedPlans.collect {
      case (name, plan)
        if plans.PlanDoctor.hasUnpartitionedWindowPlan(plan) &&
          !allowed(name) => name
    }
    assert(offenders.isEmpty, s"unpartitioned windows in: $offenders")
  }
}
