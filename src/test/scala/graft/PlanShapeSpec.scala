package graft

/** Plan-shape regression guards for the headline queries: the
  * scale-critical plan properties (pushdown, broadcasts, rank
  * pushdown, no accidental nested-loop joins) asserted against the
  * executed plan string — so a refactor that silently loses a
  * broadcast or a pushed filter fails CI, not the 100 TB run.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "filter must reach the scan")
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      "unused columns must be pruned from the scan")
  }

  test("q11_join_star broadcasts every dimension") {
    val p = plan("q11_join_star")
    val broadcasts =
      "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3,
      s"customer/nation/region must broadcast, saw $broadcasts")
    assert(!p.contains("CartesianProduct"))
  }

  test("q17_join_pairs never plans a nested-loop or cartesian join") {
    val p = plan("q17_join_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must stay explode-based")
  }

  test("ANN searches get per-partition top-k pushdown (WindowGroupLimit)") {
    Seq("q63_ivf_search", "q70_srp_search").foreach { q =>
      assert(plan(q).contains("WindowGroupLimit"),
        s"$q must plan partial top-k below the rank window")
    }
  }

  test("q31_datelist_int is one hash aggregate, no array materialization") {
    val p = plan("q31_datelist_int")
    assert(p.contains("bit_or"), "mask must fold via bit_or")
    assert(!p.contains("collect_set"),
      "no per-user array may be materialized")
  }

  test("q98_salted_join honors the shuffle_hash hint through the salt") {
    val p = plan("q98_salted_join")
    assert(p.contains("ShuffledHashJoin"),
      "the hint must survive the salt explode — otherwise the demo " +
        "silently degrades to a broadcast and exercises nothing")
    assert(!p.contains("CartesianProduct"))
  }

  test("q91_edit_distance broadcasts the small probe side") {
    val p = plan("q91_edit_distance")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "theta join must broadcast the 50-row probe, not shuffle")
  }

  test("q69_scd_incremental reads history through a single join pass") {
    val p = plan("q69_scd_incremental")
    val joins = "SortMergeJoin".r.findAllIn(p).length +
      "BroadcastHashJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    assert(joins == 1, s"expected exactly 1 join, saw $joins")
    assert(!p.contains("Union"),
      "the 4-way union must be fused into one explode pass")
  }

  test("q11_join_star aggregates lineitem below the fact-fact join") {
    val p = plan("q11_join_star")
    // the eager pre-aggregation must sit UNDER the orders join (in the
    // plan string, children print after their parent): the join then
    // consumes per-order partials, not raw line items. Join type is
    // SF-dependent (SMJ at scale; at spec SF the shrunken agg side
    // even lets orders broadcast) — the invariant is agg-below-join.
    val joinIdx = Seq("SortMergeJoin", "ShuffledHashJoin",
        "BroadcastHashJoin").map(p.indexOf).filter(_ >= 0)
    assert(joinIdx.nonEmpty, "expected a join in the plan")
    val aggBelow = p.indexOf("HashAggregate", joinIdx.min)
    assert(aggBelow >= 0 &&
      p.substring(aggBelow).contains("l_orderkey"),
      "lineitem must pre-aggregate per order before the join")
  }

  test("q103's merge join reuses the partial-aggregation partitioning") {
    val p = plan("q103_incremental_agg")
    // base and delta each shuffle once for their aggregation; the
    // full-outer merge join must NOT add exchanges of its own (the
    // only other exchange is the final orderBy's range partitioning)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2,
      s"expected exactly 2 hash exchanges (one per partial agg), saw $hashEx")
  }

  test("q108's flanking-row joins broadcast the picked rows") {
    val p = plan("q108_percentile_rank")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "the two flanking-value joins must broadcast, not shuffle")
  }

  test("q112's vocabulary top-k is TakeOrdered, not a global window") {
    val p = plan("q112_vocab_encode")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100-by-df must plan a distributed partial top-k — a global " +
        "row_number window would funnel the whole vocabulary through " +
        "one task")
  }

  test("q135's LATERAL decorrelates: one join + rank-limit pushdown") {
    val p = plan("q135_lateral_topk")
    assert(p.contains("WindowGroupLimit"),
      "the per-customer LIMIT 2 must push into the window as a " +
        "group-limit — a re-executed correlated subquery per outer " +
        "row would be quadratic at fact scale")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "the lateral must plan as ONE equi-join after decorrelation")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q130's probe side broadcasts; the corpus never shuffles") {
    val p = plan("q130_containment")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "the bounded probe set must broadcast against the corpus")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge pair join would shuffle the whole corpus")
  }

  test("q134's per-source sample keeps the rank-limit pushdown") {
    assert(plan("q134_weighted_sample").contains("WindowGroupLimit"),
      "rn <= 10 must become a per-partition group limit")
  }

  test("q140's bloom probe filters the fact BELOW the semi join") {
    val p = plan("q140_bloom_semi")
    assert(p.contains("bloom_might_contain"),
      "the bloom predicate must survive into the physical plan")
    // the probe must sit under the join, fused with the scan stage —
    // i.e. appear AFTER (deeper than) the semi join in the plan text
    val probeAt = p.indexOf("bloom_might_contain")
    val joinAt = p.indexOf("LeftSemi")
    assert(joinAt >= 0 && probeAt > joinAt,
      "bloom probe must prune before the exact semi join")
  }

  test("q163's temporal join extracts the equi key (no nested loop)") {
    val p = plan("q163_scd_temporal_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the interval residual must ride an equi join on user_id, " +
        "not degrade to a nested loop")
  }

  test("q167's candidate join is equi on band_hash (no cross pair space)") {
    val p = plan("q167_incremental_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "delta×index candidates must come from the band equi-join")
  }

  test("q143's NOT IN plans as a null-aware anti join") {
    val p = plan("q143_not_in_nulls")
    // the BHJ's trailing flag is isNullAwareAntiJoin — both NOT INs
    // must carry it; the NOT EXISTS stays a plain anti (flag false)
    val naaj = "LeftAnti, BuildRight, true".r.findAllIn(p).length
    assert(naaj >= 2,
      "NOT IN over a nullable subquery needs the null-aware anti " +
        s"join, not a plain LeftAnti — 3VL semantics live there ($naaj)")
    assert(p.contains("LeftAnti, BuildRight, false"),
      "NOT EXISTS must stay a plain anti join")
  }

  test("q177's codebook and ADC table broadcast; corpus vectors " +
    "never shuffle pre-aggregation") {
    val p = plan("q177_pq_search")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "the m·k codebook and the query ADC table are tiny by " +
        s"construction — both joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join here would shuffle corpus-sized rows " +
        "against a 16-row codebook")
  }

  test("q168's fingerprint shuffle never carries document text") {
    // chunk fingerprints are md5'd INSIDE the generating lambda and
    // the text column is dropped before the window exchange — a
    // refactor that shuffles raw text turns a 32-byte key exchange
    // into a corpus-sized one. Formatted explain lists each node's
    // Input columns (the AQE wrapper hides the tree from collect()).
    val fmt = SparkEntry.queries("q168_chunk_dedup")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val fpExchanges = fmt.split("\n\n").filter(b =>
      b.contains("Exchange") && b.contains("hashpartitioning(chunk_fp"))
    assert(fpExchanges.nonEmpty,
      s"expected the chunk_fp exchange:\n$fmt")
    assert(fpExchanges.forall(!_.contains("text#")),
      "text must be dropped before the fingerprint shuffle:\n" +
        fpExchanges.mkString("\n"))
  }

  test("q185's projected EXISTS subqueries decorrelate to " +
    "ExistenceJoin hash joins, never per-row probes") {
    val p = plan("q185_existence_join")
    assert("ExistenceJoin".r.findAllIn(p).length >= 2,
      s"both EXISTS and NOT EXISTS must plan as ExistenceJoin:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelation must produce hash joins:\n$p")
  }

  test("q193's frequency join is hash-keyed and never shuffles text") {
    // the staged frame is (doc_id, source, hv) — spans hash to longs
    // inside the scan, so every exchange moves 8-byte keys, never the
    // document body; the df join must be equi on hv, not a pair blowup
    val df = SparkEntry.queries("q193_dup_span_fraction")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"document-frequency join must stay equi on hv:\n$p")
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchanges = fmt.split("\n\n").filter(_.contains("Exchange"))
    assert(exchanges.forall(!_.contains("text#")),
      "text must never reach an exchange:\n" + exchanges.mkString("\n"))
  }

  test("q194/q195/q196 keep corpus-wide moves to one aggregate; the " +
    "apportionment/quota/concentration math runs broadcast-sized") {
    Seq("q194_temperature_mix", "q195_quota_sample",
      "q196_source_gini").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: tiny-side math must broadcast, not cartesian:\n$p")
    }
  }

  test("q182's centroid assignment broadcasts; the pair space is " +
    "cluster-scoped (equi join, no cartesian)") {
    val p = plan("q182_semdedup")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"centroids must broadcast against the corpus:\n$p")
    assert(!p.contains("CartesianProduct"),
      "within-cluster pairs must come from the centroid_id equi " +
        s"join, never an all-pairs product:\n$p")
  }

  test("q197's repetition metrics shuffle hashed longs, never text, " +
    "and plan no joins at all") {
    val df = SparkEntry.queries("q197_repetition_rules")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"two-level agg needs no join:\n$p")
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // loadParallel's round-robin input spread is the one deliberate
    // whole-row move; the guard is about KEYED corpus-wide shuffles
    val exchanges = fmt.split("\n\n").filter(s =>
      s.contains("Exchange") && s.contains("hashpartitioning"))
    assert(exchanges.forall(!_.contains("text#")),
      "text must never reach a keyed exchange:\n" +
        exchanges.mkString("\n"))
  }

  test("q199's probe side broadcasts against the candidate stream") {
    val p = plan("q199_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"probes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"label exclusion must ride the broadcast join condition:\n$p")
  }

  test("q201's pair expansion is in-row: no self-join of the shingle " +
    "relation ever plans") {
    val p = plan("q201_source_overlap")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"source pairs must expand from the collect_set, not a join:\n$p")
  }

  test("q202's induced vocabulary broadcasts back over the token stream") {
    val p = plan("q202_oov_rate")
    assert(p.contains("BroadcastHashJoin"),
      s"the 20-row vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  private def fmtPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def keyedExchanges(name: String): Array[String] =
    fmtPlan(name).split("\n\n").filter(s =>
      s.contains("Exchange") && s.contains("hashpartitioning"))

  test("q203/q204's token pipelines never move text through a keyed " +
    "exchange, and the totals ride broadcasts (no cartesian)") {
    Seq("q203_collocations", "q204_tfidf_keywords").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"),
        s"$q: scalar totals must broadcast, never cartesian")
      val bad = keyedExchanges(q).filter(_.contains("text#"))
      assert(bad.isEmpty,
        s"$q: text reached a keyed exchange:\n" + bad.mkString("\n"))
    }
  }

  test("q208/q209/q214's moment/total rows broadcast back over the " +
    "per-hour/per-day aggregate") {
    Seq("q208_rate_spikes", "q209_seasonality", "q214_changepoint")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastExchange"),
          s"$q: the single-row moment side must broadcast:\n$p")
        assert(!p.contains("CartesianProduct"),
          s"$q: no cartesian may plan:\n$p")
      }
  }

  test("q210's cross-modal join shuffles metadata only — text and " +
    "vectors never reach an exchange") {
    val bad = keyedExchanges("q210_label_profile").filter(s =>
      s.contains("text#") || s.contains("vec#"))
    assert(bad.isEmpty,
      "documents text / embedding vectors reached a keyed exchange:\n" +
        bad.mkString("\n"))
    assert(!plan("q210_label_profile").contains("CartesianProduct"))
  }

  test("q211's window sweep pays the user-keyed exchange ONCE for all " +
    "three attribution windows") {
    val userKeyed = keyedExchanges("q211_attribution_windows")
      .filter(_.contains("user_id"))
    assert(userKeyed.length == 1,
      s"expected exactly one user_id exchange for the one-pass sweep, " +
        s"got ${userKeyed.length}:\n" + userKeyed.mkString("\n"))
  }

  test("q212's rank mapping is an equi join — never a nested-loop " +
    "over corpus-sized relations") {
    val p = plan("q212_quantile_norm")
    assert(p.contains("Join"), s"the k=g_rank mapping must join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus x corpus cartesian planned:\n$p")
  }

  test("q213's latency quartiles keep every latency move integer-keyed " +
    "(no cartesian, no nested loop beyond the tiny p-targets)") {
    val p = plan("q213_conversion_latency")
    assert(!p.contains("CartesianProduct"),
      s"exactDisc's flanking-row joins must stay equi/broadcast:\n$p")
  }

  test("q215's skip-gram pairs build in-row: no join plans at all") {
    val p = plan("q215_skipgrams")
    assert(!p.contains("Join"),
      s"pair expansion must come from the in-row array, not a join:\n$p")
  }

  test("q217's DSIR model broadcasts back over the token stream and " +
    "text never reaches a keyed exchange") {
    val p = plan("q217_dsir_importance")
    assert(p.contains("BroadcastHashJoin"),
      s"the 4096-row LLR model must broadcast into the scoring pass:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the totals row must broadcast, never cartesian:\n$p")
    val bad = keyedExchanges("q217_dsir_importance")
      .filter(_.contains("text#"))
    assert(bad.isEmpty,
      "document text reached a keyed exchange:\n" + bad.mkString("\n"))
    assertModelSideBroadcasts("q217_dsir_importance")
  }

  /** The broadcast DIRECTION guard for the Distributional scorers: the
    * bounded MODEL side must broadcast, never the per-document feature
    * stream — the stream carries doc_id, the models never do. (The
    * planner actually made this mistake once: a checkpointed bigram
    * stream with unknown stats planned as BuildLeft broadcast.)
    */
  private def assertModelSideBroadcasts(name: String): Unit = {
    val bad = fmtPlan(name).split("\n\n")
      .filter(s => s.contains("BroadcastExchange") && s.contains("doc_id#"))
    assert(bad.isEmpty,
      s"$name: the doc-keyed stream is being broadcast:\n" +
        bad.mkString("\n"))
  }

  test("q218's charset²-bounded LM joins equi and shuffles no text") {
    val p = plan("q218_surprisal_buckets")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"model scoring must stay an equi join on (lang, bigram):\n$p")
    val bad = keyedExchanges("q218_surprisal_buckets")
      .filter(_.contains("text#"))
    assert(bad.isEmpty,
      "document text reached a keyed exchange:\n" + bad.mkString("\n"))
    assertModelSideBroadcasts("q218_surprisal_buckets")
  }

  test("q219's KL pair join is bucket-equi over the bounded grid — " +
    "no cartesian, no text in any exchange") {
    val p = plan("q219_source_kl")
    assert(!p.contains("CartesianProduct"),
      s"the source-pair expansion must ride the b-equi join:\n$p")
    val bad = keyedExchanges("q219_source_kl")
      .filter(_.contains("text#"))
    assert(bad.isEmpty,
      "document text reached a keyed exchange:\n" + bad.mkString("\n"))
  }

  test("q216's span matching joins on 60-bit hashes: text never " +
    "reaches an exchange, candidates never go all-pairs") {
    val p = plan("q216_longest_dup_span")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay hash-equi (shingle-bucketed):\n$p")
    val bad = keyedExchanges("q216_longest_dup_span")
      .filter(_.contains("text#"))
    assert(bad.isEmpty,
      "span text reached a keyed exchange:\n" + bad.mkString("\n"))
  }

  test("q222's id encode is join-free and text never hits a keyed " +
    "exchange (literal vocab map, in-row transform)") {
    val p = plan("q222_bpe_ids")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the literal vocab map must keep the encode join-free:\n$p")
    val bad = keyedExchanges("q222_bpe_ids").filter(_.contains("text#"))
    assert(bad.isEmpty,
      "document text reached a keyed exchange:\n" + bad.mkString("\n"))
  }

  test("q224's delta terms ride broadcast joins, never a cartesian") {
    val p = plan("q224_incremental_join")
    assert(p.contains("BroadcastHashJoin"),
      s"delta joins must broadcast the batch side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"every term is key-equi:\n$p")
  }

  test("q221's encode rides expressions: one corpus scan, no joins, " +
    "text never in a keyed exchange") {
    val df = SparkEntry.queries("q221_bpe_encode_stats")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the two-branch stats⋈distinct-tokens formulation re-scans the
    // corpus (pruning breaks exchange reuse); the fused multi-distinct
    // aggregate must keep exactly one scan and zero joins
    assert(!p.contains("Join"), s"fused aggregate needs no join:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
    val bad = keyedExchanges("q221_bpe_encode_stats")
      .filter(_.contains("text#"))
    assert(bad.isEmpty,
      "document text reached a keyed exchange:\n" + bad.mkString("\n"))
  }

  test("q226's extreme recompute is a broadcast semi-join into " +
    "history — untouched keys never rescan") {
    val p = plan("q226_retract_minmax")
    assert(p.contains("LeftSemi"),
      s"touched-key filter must be a semi-join:\n$p")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2,
      "the delete-key set and the recomputed extremes must both " +
        s"broadcast, saw $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all joins key-equi:\n$p")
  }

  test("q228's group map broadcasts back over the corpus scan") {
    val p = plan("q228_leakage_split")
    assert(p.contains("BroadcastHashJoin"),
      s"the post-LSH component map must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"banding keeps every join equi:\n$p")
  }

  test("q229's label maintenance rides broadcast maps — the old " +
    "labeling never shuffles") {
    val p = plan("q229_incremental_cc")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "touched-label semi-join, contraction lookups, and the relabel " +
        s"map must all broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every join is key-equi:\n$p")
  }

  test("q230's sticky machinery is pairs-bounded broadcasts; " +
    "unpaired docs stay map-side") {
    val p = plan("q230_sticky_split")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "old-label, anchor, and membership maps must broadcast — the " +
        s"corpus never shuffles for them:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every join is key-equi:\n$p")
  }

  test("q231's retraction filters history through broadcast " +
    "semi/anti joins — untouched components never re-solve") {
    val p = plan("q231_retract_group")
    // the membership/edge semi-joins live inside the sub-solve, which
    // the bounded local path consumes eagerly at this SF — the final
    // plan keeps the affected-component semi and pass-through anti
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "affected-component and pass-through filters " +
        s"must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every join is key-equi:\n$p")
  }

  test("q227's assignment broadcasts the k-row centroid table and " +
    "plans partial top-1 pushdown") {
    val p = plan("q227_kmeans_fit")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast into the scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast cross join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"argmax must push partial top-1 below the rank window:\n$p")
  }

  test("q232 packs with ONE shuffle — the shard group-by; the fold " +
    "is pure expression work") {
    val p = plan("q232_shard_pack")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exactly one exchange (the shard group-by):\n$p")
    assert(!p.toLowerCase.contains("join"),
      s"no join may appear — the fold is per-row expression eval:\n$p")
  }

  test("q233's retraction is two broadcast ANTI joins — the " +
    "maintained view never shuffles for the delete batches") {
    val p = plan("q233_join_retract")
    val anti = "BroadcastHashJoin.*LeftAnti".r.findAllIn(p).length
    assert(anti == 2,
      s"both delete sets must anti-join via broadcast, saw $anti:\n$p")
    assert("LeftAnti".r.findAllIn(p).length == anti,
      s"no anti join may run shuffled:\n$p")
  }

  test("q235's all-vs-all search is a bucket EQUI self-join with " +
    "partial top-k pushdown — never a cross join") {
    val p = plan("q235_label_consistency")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the SRP bucket must key the self-join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must push below the rank window:\n$p")
  }

  test("q236's digests aggregate as object-hash partials and the " +
    "exact envelope broadcasts back over the sketch side") {
    val p = plan("q236_tdigest_quantiles")
    // both digest layers must plan as ObjectHashAggregate (typed
    // Aggregator state) with a partial stage — the map-side combine
    // is what keeps per-batch digest building one-pass at 100 TB
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 4,
      s"sketch + merge layers must each plan partial+final:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 3-row bounds side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no loop joins:\n$p")
  }

  test("q234's rate table broadcasts back over the corpus scan") {
    val p = plan("q234_temperature_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-language rate dim must broadcast:\n$p")
    val shuffled = "SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    assert(shuffled == 0,
      s"the corpus must never shuffle for the rate lookup:\n$p")
  }

  test("q240's scoring pass broadcasts BOTH pruned model tables — " +
    "the corpus token stream never shuffles into a model join") {
    val p = plan("q240_backoff_lm_bits")
    val bcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bcast >= 2,
      s"bigram and unigram model joins must both broadcast, saw " +
        s"$bcast:\n$p")
    val shuffled = "SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    assert(shuffled == 0,
      s"no model join may shuffle the transition stream:\n$p")
  }

  test("q242's prefix sums never run through a partition-less " +
    "window — the corpus is scanned, not funneled") {
    val p = plan("q242_pps_systematic")
    assert(!p.contains("Window"),
      s"the PPS pipeline must use the two-phase scan, not a global " +
        s"window:\n$p")
  }

  test("q239's take broadcasts the allocation and the corpus " +
    "aggregates once") {
    val p = plan("q239_stratified_sample")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      s"the 20-row allocation must broadcast into the take:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing here is big enough to sort-merge:\n$p")
  }

  test("q250's relevance + n_rel joins all broadcast the small side " +
    "— the corpus never shuffles into the eval") {
    val p = plan("q250_ndcg_mrr")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"ranked lists, query labels, and the label histogram must " +
        s"broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the labeled brute-force probe may nested-loop:\n$p")
  }

  test("q256's NB scoring pass broadcasts the model — the corpus " +
    "never shuffles into a model join") {
    val p = plan("q256_naive_bayes")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"the |V|*C bits table and the class spine must broadcast:\n$p")
    // the only sort-merge join allowed is the id-only LeftAnti that
    // re-attaches zero-in-vocab docs — the token stream itself must
    // never shuffle into a model join
    val badSmj = p.linesIterator
      .filter(_.contains("SortMergeJoin"))
      .filterNot(_.contains("LeftAnti")).toList
    assert(badSmj.isEmpty && !p.contains("ShuffledHashJoin"),
      s"non-anti shuffled join in the scoring path ($badSmj):\n$p")
  }

  test("q260's Gini rank never plans a partition-less window — the " +
    "scan is PrefixSum's two-phase form") {
    val p = plan("q260_source_concentration")
    assert(!p.contains("Window"),
      s"a Window here means the rank fell back to the " +
        s"single-partition funnel:\n$p")
  }

  test("q264's votes shuffle exactly once — the item repartition " +
    "serves the count aggregate AND both consensus windows") {
    val p = plan("q264_majority_vote")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"the (item, cat) count and the item windows must share the " +
        s"one vote exchange:\n$p")
    assert(!p.contains("Join"), s"consensus is join-free:\n$p")
  }

  test("q265's rater unpivot runs the text featurization once — " +
    "consensus and the agree join both read the checkpointed votes") {
    val p = plan("q265_rater_reliability")
    assert(!p.contains("FileScan"),
      s"a FileScan here means the corpus featurization re-ran for " +
        s"one of the two consumers:\n$p")
  }

  test("q266's median/MAD selections never plan a partition-less " +
    "window — both run PrefixSum's two-phase scan") {
    val p = plan("q266_robust_outlier_gate")
    assert(!p.contains("Window"),
      s"a Window here means a median fell back to the " +
        s"single-partition funnel:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 3,
      s"the 1-row median/MAD tables must broadcast into the flag " +
        s"pass:\n$p")
  }

  test("q267's drift joins stay vocab-keyed: totals broadcast, " +
    "nothing nested-loops over rows") {
    val p = plan("q267_vocab_drift")
    assert(!p.contains("CartesianProduct"),
      s"no row-scale cartesian in the drift pass:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2,
      s"the 1-row totals must broadcast into the TVD pass:\n$p")
  }

  test("q254's per-source AUC has no driver state: windows are " +
    "partitioned and nothing collects") {
    val p = plan("q254_group_auc")
    assert(p.contains("Window"),
      s"the midrank scan must be a window over (source, score):\n$p")
    val df = SparkEntry.queries("q254_group_auc")(spark, sfDir)
    // the executed plan must not be a LocalTableScan of collected rows
    assert(!df.queryExecution.executedPlan.toString
      .startsWith("LocalTableScan"),
      "groupAuc must stay distributed (no bounded-collect shortcut)")
  }

  test("q268's BM25 scoring is map-side: query terms, query-df and " +
    "corpus stats all broadcast into the postings scan; top-k pushes " +
    "down") {
    val p = plan("q268_bm25_topk")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"qTerms and dfq must broadcast into the postings scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row corpus stats must broadcast, not cartesian:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-qid top-k must plan partial rank pushdown:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no row-scale cartesian in the scoring path:\n$p")
  }

  test("q269's DSIR contrast scores both models in ONE transition " +
    "pass — all four pruned LM tables broadcast, the corpus never " +
    "shuffles into a model join") {
    val p = plan("q269_dsir_select")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"target/source uni+bi tables must all broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"a shuffled join here moves the corpus-sized transition " +
        s"stream:\n$p")
  }

  test("q270's winnow window is per-document (never a single " +
    "partition) and pair counting stays fp-bucketed") {
    // pair side: the executed plan (post-checkpoint) — keyed joins only
    val p = plan("q270_winnow_overlap")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing in the pair count may funnel to one partition:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay keyed on fp:\n$p")
    // selection side: the fingerprint plan BEFORE sharedFingerprints'
    // checkpoint hides it — the window must be doc-partitioned
    val fp = graft.operators.Winnow.fingerprints(
      graft.core.Tables.loadParallel(spark, sfDir, "documents"),
      "doc_id", "text", k = 5, w = 4)
      .queryExecution.executedPlan.toString
    assert(fp.contains("Window"),
      s"the window-min selection must plan as a Window:\n$fp")
    assert(!fp.contains("Exchange SinglePartition"),
      s"the doc window lost its partitioning:\n$fp")
  }

  test("q271's blocklist scan is ONE automaton pass in the corpus " +
    "projection — no join against the pattern list") {
    val p = plan("q271_blocklist_scan")
    assert(p.contains("multi_contains_count"),
      s"the Aho-Corasick expression must ride the projection:\n$p")
    assert(!p.contains("Join"),
      s"a join here means patterns degraded to a cross join:\n$p")
  }

  test("simhashComponents' pair stage (q88/q272's group assembly) " +
    "joins DISTINCT SIGNATURES only — doc ids never enter pair space, " +
    "Hamming verify present") {
    import spark.implicits._
    // the final query plans hide this stage behind checkpoint
    // boundaries, so pin the stage itself (package-private seam)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val distinctSigs = docs
      .select(graft.operators.Dedup.simhash($"text").as("sig"))
      .distinct()
    val pairs = graft.operators.Dedup.simhashSigPairs(
      distinctSigs, maxDist = 3, bands = 4)
    assert(pairs.columns.toSeq == Seq("u", "v"))
    val p = pairs.queryExecution.executedPlan.toString
    assert(p.contains("bit_count"),
      s"the exact Hamming verify must gate the candidates:\n$p")
    assert(!p.contains("doc_id"),
      s"doc ids entered the pair space — B² per bucket returns:\n$p")
    // the distinct-signature collapse must sit BELOW the band join:
    // both join inputs read the aggregated (distinct) sig relation
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"sig distinct missing below the band self-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs:\n$p")
  }

  test("q88/q272 final plans stay pair-free: checkpointed label " +
    "tables, no cartesian, no doc-pair columns") {
    Seq("q88_neardup_groups", "q272_soft_dedup_weights").foreach { q =>
      val p = plan(q)
      assert(!p.contains("id_a") && !p.contains("id_b"),
        s"$q: doc-pair space reappeared:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no all-pairs:\n$p")
      assert(p.contains("ExistingRDD"),
        s"$q: the component table must be checkpointed once:\n$p")
    }
  }

  test("q273's waterfill never plans a partition-less window — rank " +
    "and prefix sum run PrefixSum's two-phase scan") {
    val p = plan("q273_waterfill_budget")
    assert(!p.contains("Window"),
      s"a Window here means the scan fell back to the " +
        s"single-partition funnel:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2,
      s"the 1-row n and cap tables must broadcast:\n$p")
  }

  test("q274's attribution is completely join-free: counts ride the " +
    "projection, labels ride a literal array") {
    val p = plan("q274_blocklist_attribution")
    assert(p.contains("multi_contains_counts"),
      s"the per-pattern automaton must ride the projection:\n$p")
    assert(!p.contains("Join"),
      s"a join here means labels degraded to a pattern-table join:\n$p")
  }

  test("q275's mixture weights never shuffle the corpus into a model " +
    "join — all four LM tables broadcast; the apportionment windows " +
    "run on the 20-row strata table only") {
    val p = plan("q275_doremi_mix")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"a shuffled join here moves the corpus transition stream:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"target/source uni+bi tables must all broadcast:\n$p")
  }

  test("q276's sweep verifies candidates only (no all-pairs) and the " +
    "5-row tau table broadcast-joins them") {
    val p = plan("q276_dedup_threshold_sweep")
    assert(!p.contains("CartesianProduct"),
      s"no row-scale cartesian in the sweep:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"exactly the tau range-join may nested-loop (broadcast):\n$p")
  }

  test("q277's chunking is in-row: no token explode, no window, " +
    "text dropped before the occurrence shuffle") {
    val p = plan("q277_cdc_chunks")
    assert(!p.contains("Window"),
      s"chunk construction must be array expressions, not windows:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no all-pairs here:\n$p")
    // the checkpointed (doc, n_tok, hash) rows are the ONLY thing the
    // occurrence count and rollup read — chunk text never shuffles
    assert(p.contains("ExistingRDD"),
      s"the hashed chunk rows must be checkpointed once:\n$p")
    // the construction itself (upstream of the checkpoint): one
    // projection carrying the hash kernel — no Generate of token
    // rows, no Exchange before the chunk list exists
    import org.apache.spark.sql.functions.col
    val cp = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.operators.CdcChunk.chunksOfTokens(
        graft.functions.TextFunctions.lowerTokens(col("text")), 3, 8)
        .as("chunks"))
      .queryExecution.executedPlan.toString
    assert(cp.contains("md5_prefix_long"),
      s"chunk identity must be the 60-bit hash kernel:\n$cp")
    assert(!cp.contains("Generate") && !cp.contains("Exchange"),
      s"chunking must not explode or shuffle token rows:\n$cp")
  }

  test("q278's normalization is a native codegen expression in the " +
    "scan projection — no UDF, no join, one scan") {
    val p = plan("q278_nfc_normalize")
    assert(p.contains("unicode_normalize"),
      s"normalization must be the native expression:\n$p")
    assert(!p.contains("Join"), s"this is a pure projection query:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"exactly one scan of documents:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("n_chars"),
      s"unused columns must be pruned from the scan:\n$p")
  }

  test("q279's LPA reads a checkpointed adjacency (lineage does not " +
    "grow with rounds) and every rank window is node-partitioned") {
    val p = plan("q279_lpa_communities")
    assert(p.contains("ExistingRDD"),
      s"per-round labels must be checkpointed:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LPA is hash-join + aggregate only:\n$p")
  }

  test("q281's permutation rides the scan projection: no join, no " +
    "shuffle except the output sort, one scan") {
    val p = plan("q281_feistel_shuffle")
    assert(!p.contains("Join"), s"the shuffle key is per-row math:\n$p")
    assert(p.contains("md5_prefix_long"),
      s"the round function must be the native hash kernel:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one documents scan:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"only the ORDER BY may exchange — the permutation itself is " +
        s"shuffle-free:\n$p")
  }

  test("q282's schedule broadcasts the weight table and top-200s " +
    "via TakeOrdered, never a global sort materialization") {
    val p = plan("q282_interleave_schedule")
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT after ORDER BY must plan as top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the source-bounded weight table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs:\n$p")
  }

  test("q283's manifest is one scan + one keyed aggregate — no join, " +
    "the checksum folds via bit_xor") {
    val p = plan("q283_shard_manifest")
    assert(!p.contains("Join"), s"key and tokens ride one scan:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one documents scan:\n$p")
    assert(p.contains("bit_xor"),
      s"the manifest checksum must fold order-free:\n$p")
  }

  test("q284's grouping is pair-free: no cartesian, no doc-doc pair " +
    "join — components come off the checkpointed membership") {
    val p = plan("q284_bipartite_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no pair-space materialization anywhere:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the converged labels must be checkpointed:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"membership/size tables must broadcast back over the doc " +
        s"spine:\n$p")
  }

  test("q285's containment stays on the df-capped index: no " +
    "cartesian, no pair-space nested loop") {
    val p = plan("q285_winnow_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairs come from the fp-keyed equi join only:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the shared pair table must be checkpointed once:\n$p")
  }

  test("q286's history probe is a hash join over checkpointed chunk " +
    "hashes — no text past the chunking projection") {
    val p = plan("q286_cdc_incremental")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"hash-keyed probe:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the hashed chunk rows must be checkpointed once:\n$p")
  }

  test("q280's growth curve has no partition-less window and no " +
    "per-prefix rescans — one scan feeds ranks, one the token stream") {
    val p = plan("q280_vocab_growth")
    assert(!p.contains("Window"),
      s"ranks and cumulations must run through PrefixSum's scan:\n$p")
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      s"first-occurrence reduction means no per-bucket rescans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no all-pairs:\n$p")
  }

  test("q287's span detection never moves text: every exchange " +
    "carries (doc, pos, 60-bit hash) rows only") {
    val df = SparkEntry.queries("q287_dup_span_detect")(spark, sfDir)
    val sections = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
      .split("\n\n")
    sections.filter(s => s.startsWith("(") &&
      s.linesIterator.next().contains("Exchange")).foreach { s =>
      assert(!s.contains("text#"),
        s"corpus text entered an exchange:\n$s")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must stay hash-bucketed:\n$p")
  }

  test("q289's fact-scale ntile plans ZERO windows of any kind — the " +
    "global ordinal is the two-phase scan, the bucket a pure " +
    "integer function") {
    val df = SparkEntry.queries("q289_fact_ntile")(spark, sfDir)
    assert(PlanScan.exchangeCounts(df)._4 == 0)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"a window on the 6M-row fact table funnels it into one task:\n$p")
  }

  test("q125/q126/q212 plan ZERO partition-less windows — global " +
    "ranks come from PrefixSum's two-phase scan, never WindowExec's " +
    "single-task funnel") {
    Seq("q125_ntile_deciles", "q126_dist_ranks", "q212_quantile_norm")
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        assert(PlanScan.exchangeCounts(df)._4 == 0,
          s"$q plans a partition-less window — the whole relation " +
            "funnels through one task")
      }
    // q125/q126 need no window AT ALL (q212 keeps its bounded
    // per-source rank window)
    Seq("q125_ntile_deciles", "q126_dist_ranks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must rank via the ordinal scan, not any window:\n$p")
    }
  }

  test("q292/q293's vocabulary ranks plan ZERO windows — the oracle " +
    "may ROW_NUMBER, the engine ranks via PrefixSum's two-phase scan") {
    Seq("q292_zipf_fit", "q293_rank_freq_octaves").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(PlanScan.exchangeCounts(df)._4 == 0,
        s"$q plans a partition-less window over the vocabulary")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        s"$q must rank via the ordinal scan, not any window:\n$p")
    }
  }

  test("q294/q299's cluster audits broadcast only the bounded " +
    "centroid/stats tables — embedding codes never enter a " +
    "broadcast, no partition-less windows") {
    Seq("q294_cluster_quality", "q299_davies_bouldin").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(PlanScan.exchangeCounts(df)._4 == 0,
        s"$q plans a partition-less window")
      val sections = df.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
        .split("\n\n")
      val bcasts = sections.filter(s => s.startsWith("(") &&
        s.linesIterator.next().contains("BroadcastExchange"))
      assert(bcasts.nonEmpty, s"$q: the centroid table must broadcast")
      bcasts.foreach { s =>
        assert(!s.contains("codes#") && !s.contains("embedding#"),
          s"$q: the corpus side entered a broadcast:\n$s")
      }
    }
  }

  test("q305's semantic-dedup pairs are CLUSTER-BUCKETED: the pair " +
    "stage is an equi-join on centroid_id over the checkpointed " +
    "assignment — never a cartesian/all-pairs stage, and vectors " +
    "never enter a broadcast") {
    // since the r11 connected-components upgrade the pair stage
    // executes eagerly inside Graph.connectedComponents' edge
    // checkpoint, so its shape is pinned at the semDedupPairs seam
    // (the exact DataFrame semDedup feeds to the closure), driven by
    // the same real inputs q305 uses
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.loadParallel(spark, sfDir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val sided = Similarity.semDedupAssignment(
      emb.select(col("vec_id"), col("embedding")), centroids)
    val pairs = Similarity.semDedupPairs(sided, 0.30)
    val sections = pairs.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
      .split("\n\n")
    val cartesians = sections.filter(s => s.startsWith("(") &&
      s.linesIterator.next().contains("CartesianProduct"))
    assert(cartesians.isEmpty,
      s"q305 pair stage plans a cartesian:\n${cartesians.mkString}")
    val pairJoins = sections.filter(s => s.startsWith("(") &&
      (s.linesIterator.next().contains("SortMergeJoin") ||
        s.linesIterator.next().contains("ShuffledHashJoin")))
    assert(pairJoins.exists(_.contains("centroid_id")),
      "the within-cluster pair stage must equi-join on centroid_id " +
        "(cluster-bucketed), not fall back to an all-pairs shape")
    val bcasts = sections.filter(s => s.startsWith("(") &&
      s.linesIterator.next().contains("BroadcastExchange"))
    bcasts.foreach { s =>
      assert(!s.contains("va#") && !s.contains("vb#"),
        s"q305 pair stage: a corpus vector entered a broadcast:\n$s")
    }
    // and the COMPOSED query never plans a cartesian or broadcasts a
    // vector column either (the closure and census run in id space)
    val df = SparkEntry.queries("q305_semantic_dedup")(spark, sfDir)
    val fullSections = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
      .split("\n\n")
    assert(!fullSections.exists(s => s.startsWith("(") &&
      s.linesIterator.next().contains("CartesianProduct")),
      "q305's composed plan contains a cartesian stage")
    fullSections.filter(s => s.startsWith("(") &&
      s.linesIterator.next().contains("BroadcastExchange")).foreach {
      s =>
        assert(!s.contains("embedding#"),
          s"q305: a corpus vector side entered a broadcast:\n$s")
    }
  }

  test("q308's video decode is join-free and its keyed exchanges " +
    "carry ids+energies only — frame bytes and grids never shuffle") {
    val p = plan("q308_video_frames")
    assert(!p.contains("Join"),
      s"q308 is scan → per-partition decode → aggregate; no join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one documents scan:\n$p")
    val bad = keyedExchanges("q308_video_frames").filter(s =>
      s.contains("grids#") || s.contains("grid#") || s.contains("bytes#"))
    assert(bad.isEmpty,
      "frame grids/bytes reached a keyed exchange — the decode must " +
        "reduce to (id, energy) before shuffling:\n" + bad.mkString("\n"))
  }

  test("q309's incremental ladder keeps every stage checkpointed " +
    "(ids-only keep lists), plans no cartesian, and never moves text " +
    "through a keyed exchange") {
    val df = SparkEntry.queries("q309_curation_incremental")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      s"stage keep lists must be checkpointed once:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"every ladder join is key-equi (fp / band_hash / hv / id):\n$p")
    val bad = keyedExchanges("q309_curation_incremental")
      .filter(_.contains("text#"))
    assert(bad.isEmpty,
      "document text reached a keyed exchange:\n" + bad.mkString("\n"))
  }

  test("q304's audio energies are one scan + in-row column math: no " +
    "join, no window, no shuffle before the bucket aggregate; the " +
    "sample array is Let-bound (synthesized once, not per window)") {
    val df = SparkEntry.queries("q304_audio_energy")(spark, sfDir)
    assert(PlanScan.exchangeCounts(df)._4 == 0)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"q304 must not join:\n$p")
    // Let-binding proof: the per-sample synth pmod appears a bounded
    // number of times, not once per window lambda (the q303 lesson)
    val synthCount = "pmod".r.findAllIn(p).length
    assert(synthCount <= 24,
      s"q304's sample synth inlined $synthCount times — the Let " +
        "binding regressed (expect one synth + bucket pmods)")
  }
}
