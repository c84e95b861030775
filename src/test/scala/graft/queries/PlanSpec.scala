package graft.queries

import graft.SparkSpec

/** Physical-plan assertions: the plans we ship are the plans we want —
  * filters reach the parquet scan, projections prune columns, dimension
  * joins broadcast, top-k avoids global sorts, and hot paths stay inside
  * WholeStageCodegen. Guards against regressions that correctness tests
  * cannot see (a plan can be right and 100× slower).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q02 filter is pushed into the parquet scan") {
    val p = plan("q02_project_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(o_orderstatus)") || p.contains("EqualTo(o_orderstatus"), p)
  }

  test("q02 scan reads only projected+filter columns (column pruning)") {
    val p = plan("q02_project_filter")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_totalprice"), readSchema)
    assert(!readSchema.contains("o_orderdate"), readSchema)
  }

  test("q07 dimension joins are broadcast, not sort-merge") {
    val p = plan("q07_join_rollup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q04 top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q04_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q09 anti-join broadcasts the key set") {
    val p = plan("q09_anti_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("q06 aggregation has a map-side partial phase") {
    val p = plan("q06_cond_agg")
    assert(p.contains("HashAggregate") && p.contains("partial"), p)
  }

  test("q25 pricing rollup: exactly agg-exchange + output-sort, LONG partials") {
    val p = plan("q25_pricing_rollup")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 2, s"expected agg + sort exchanges only:\n$p")
    // map-side partial sums must run on bigint fixed-point, with the cents
    // conversion in primitive arithmetic: sum(decimal(18,2)) widens past
    // the compact-long Decimal and pays a java BigDecimal per row, and
    // round() on double ALSO boxes through BigDecimal per value
    // (ArrayJsonQueries.q25 scaladoc, BASELINE.md)
    assert(p.contains("partial_sum(cast(((l_quantity"), p)
    assert(p.contains("as bigint)"), s"fixed-point partials must be bigint:\n$p")
    assert(!p.contains("partial_sum(cast(l_quantity#"),
      s"no decimal partial aggregates:\n$p")
    assert(!p.contains("round("), s"no BigDecimal-boxing round in the hot path:\n$p")
  }

  test("q40 cosine scoring: probe rides a 1-row broadcast, single output shuffle") {
    // r8: the probe is a broadcast cross join of the one probe row
    // (scoreAllVs) instead of an eagerly-collected literal — same
    // scoring kernel, one fewer driver job. The only joins allowed are
    // broadcast builds of that row; the corpus side must never shuffle
    // except for the deterministic output sort.
    val p = plan("q40_cosine_scores")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe row must ride a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"the corpus side must never shuffle for the probe:\n$p")
    // two exchanges are legitimate: the deterministic output sort, and
    // the probe-side guard's SinglePartition aggregate (r8 ADVICE: the
    // first+count that raises on a malformed probe relation — one row
    // after partial aggregation, scale-irrelevant). Anything else on
    // the corpus side is a regression.
    val shuffles = p.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")).toSeq
    assert(shuffles.size <= 2 &&
      shuffles.count(!_.contains("SinglePartition")) == 1,
      s"only the output sort and the 1-row probe guard may shuffle:\n$p")
  }

  test("q66 as-of join: no join operator at all — union + one window shuffle") {
    val p = plan("q66_asof_attribution")
    // the whole point of the union+window formulation: the per-key cross
    // product of a theta-join never exists in the plan
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("q67 range join is an equi-join on (key, bin), never nested-loop") {
    val p = plan("q67_range_join_activity")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned range join must stay an equi-join:\n$p")
    // the bound predicate is a post-join filter on an equi-join, so a
    // hash/sort-merge join keyed on (user_id, __bin) must appear
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q34 per-doc metrics plan is a pure scan+project — no join, no exchange") {
    val p = plan("q34_fingerprint_shingles")
    assert(!p.contains("Join"), s"one scan, no fingerprint re-join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // r4: the trailing output sort is gone (its range-sampling pass
    // re-executed the kernels), so the plan must be completely shuffle-free
    assert(exchanges == 0, s"shuffle-free per-doc map expected:\n$p")
  }

  test("q86 funnel: single exchange — windows and final agg share one user_id partitioning") {
    val p = plan("q86_event_funnel")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"funnel must shuffle events exactly once on user_id:\n$p")
    assert(!p.contains("Join"), s"no per-stage re-joins:\n$p")
    assert(!p.contains("SinglePartition"), p)
  }

  test("q08 coverage agg has no Expand — distinct counts derived without it") {
    val p = plan("q08_left_join_coverage")
    assert(!p.contains("Expand"),
      s"countDistinct Expand triples shuffle volume; pre-aggregate instead:\n$p")
  }

  test("q18 argmax window never collapses to a single partition") {
    val p = plan("q18_argmax_per_group")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("q87 cohorts: join reuses the declared user_id partitioning — no extra exchange") {
    // the reuse only materializes in the FINAL adaptive plan — execute,
    // then read the plan (the static plan prints both branches expanded)
    val df = graft.SparkEntry.queries("q87_retention_cohorts")(spark, sf)
    df.collect() // a write() would execute a COPY of the plan, not this one
    // AQE's toString appends the pre-execution plan after the final one —
    // only the "Final Plan" section reflects what actually ran
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SinglePartition"), p)
    // the event stream is shuffled on user_id exactly ONCE: the second
    // branch must consume a ReusedExchange, not re-shuffle (the x100
    // super-linear shuffle cliff in BASELINE.md "Round-5: x100 event
    // smoke" — once the per-user table outgrew broadcast, the join
    // re-shuffled every pair)
    val streamShuffles = p.linesIterator.count(l =>
      l.contains("REPARTITION_BY_COL") && !l.contains("ReusedExchange"))
    assert(streamShuffles == 1,
      s"event stream must shuffle exactly once on user_id:\n$p")
  }

  test("q31 text metrics: kernel computed once, no regex expressions in plan") {
    val p = plan("q31_token_metrics")
    assert(p.linesIterator.count(_.contains("graft_text_metrics")) <= 1,
      s"metrics array must be computed once, not per output column:\n$p")
    assert(!p.contains("regexp_extract_all") && !p.contains("regexp_replace"),
      s"regex passes should be gone:\n$p")
  }

  test("q150 linear inference: one partial-agg shuffle, no join, no window") {
    val p = plan("q150_linear_quality")
    assert(!p.contains("Join"), s"the weight table is arithmetic, not a join:\n$p")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate") && p.contains("partial"),
      s"per-doc score must combine map-side:\n$p")
    // featurize shuffle + output sort — nothing else may exchange
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"featurize + sort only:\n$p")
  }

  test("q152 quantile gate broadcasts the per-source thresholds") {
    val p = plan("q152_source_quantile_gate")
    assert(p.contains("BroadcastHashJoin"),
      s"P75 thresholds are |sources|-sized and must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("SinglePartition") || p.contains("Window"),
      p) // the freq-state walk windows per source, never one task for facts
  }

  test("q165 tertile windows and the bucket rollup share ONE lang exchange") {
    val p = plan("q165_perplexity_buckets")
    val langExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(lang"))
    assert(langExchanges == 1,
      s"row_number + count + groupBy(lang, bucket) must ride one lang shuffle:\n$p")
    // both windows keyed per language — never a global (unkeyed) window
    // that would serialize the corpus through one task
    val windows = p.linesIterator.filter(_.contains("- Window [")).toSeq
    assert(windows.size == 2 && windows.forall(_.contains("windowspecdefinition(lang")),
      s"expected two lang-partitioned windows:\n$p")
  }

  test("q167 segment dedup: the dedup window is keyed by segment hash — " +
      "never a global window — and strings stay out of the hash exchange") {
    val p = plan("q167_segment_dedup")
    val windows = p.linesIterator.filter(_.contains("- Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("windowspecdefinition(__h")),
      s"dedup window must partition by the md5 key:\n$p")
    // the window's exchange carries (__h, doc_id, pos) only — the
    // rebuilt text rides the doc-side scan, never this shuffle
    val hExchange = p.linesIterator
      .find(_.contains("Exchange hashpartitioning(__h")).getOrElse("")
    assert(hExchange.nonEmpty, s"expected the __h exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no stage may collapse to one partition:\n$p")
  }

  test("q172 vocab coverage: cumulative mass and rank come from the " +
      "range-partitioned prefix sum — no Window operator at all") {
    val p = plan("q172_vocab_coverage")
    assert(!p.contains("Window"),
      s"a window here would serialize the type table through one task:\n$p")
    // the prefix sum's range exchange lives BEHIND its RDD boundary
    // (withRunningTotal materializes via createDataFrame) — what this
    // plan must show is that boundary plus a map-side-combined rollup
    assert(p.contains("Scan ExistingRDD"),
      s"expected the prefix-sum RDD boundary:\n$p")
    assert(p.contains("partial_max"),
      s"final rollup must combine map-side:\n$p")
  }

  test("q163 blocklist kernel: zero exchanges, kernel evaluated once, codegen'd scan") {
    val p = plan("q163_blocklist_stats")
    assert(!p.contains("Exchange"), s"row-local stats must not shuffle:\n$p")
    // `*(n)` is the WholeStageCodegen marker in the tree string
    assert(p.contains("*(1) Project"), s"projection left codegen:\n$p")
    assert(p.linesIterator.count(_.contains("graft_blocklist(")) == 1,
      s"kernel must be materialized once, not once per element_at:\n$p")
  }

  test("q180 char entropy: kernel evaluated once, only the output-order exchange") {
    val p = plan("q180_char_entropy")
    // the q31 CollapseProject convention: the __m array column holds the
    // one kernel evaluation; the per-stat element_at projections must
    // not re-run the histogram pass
    assert(p.linesIterator.count(_.contains("graft_char_entropy(")) == 1,
      s"kernel must be materialized once, not once per stat column:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2,
      s"per-doc entropy is row-local — only the output orderBy may shuffle:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("q179 KL matrix: map-side-combined counts, broadcast scalars, no Window") {
    val p = plan("q179_source_kl")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the (source, word) count and per-source scalar aggregates must " +
        s"combine map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the |V| scalar and per-source rows must broadcast, never shuffle " +
        s"the pair frame:\n$p")
    assert(!p.contains("Window"), p)
    // the tokenize+count relation is checkpointed once for its three
    // consumers — the plan reads it back as an RDD boundary
    assert(p.contains("Scan ExistingRDD"),
      s"expected the one-slot counts materialization:\n$p")
  }

  test("q187 incremental BM25: top-k take, 1-row broadcast model, " +
      "no sort-merge, no window — the whole rescore is arithmetic (r10)") {
    val p = plan("q187_bm25_incr")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must never be a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the merged 1-row aggregate must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    // the only exchanges are the 1-row aggregate partials — the stat
    // rows themselves are never hash- or range-partitioned
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"stat rows must not shuffle:\n$p")
    // batch text kernels hide behind the one pinned materialization
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("q185 incremental LSH: bucket bound windows over (band, bhash); " +
      "no sort-merge at broadcastable scale (r10)") {
    val p = plan("q185_minhash_lsh_incr")
    assert(p.contains("windowspecdefinition(band"),
      s"the degenerate-bucket bound must key on the band bucket:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // the warehouse restriction is a semi-join on the touched buckets
    assert(p.contains("LeftSemi"), s"touched-bucket restriction missing:\n$p")
  }

  test("q189 incremental heavy hitters: no join of any kind except the " +
      "broadcast 1-row total; counts merge by union + re-aggregate (r10)") {
    val p = plan("q189_heavy_hitters_incr")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the merged total must broadcast:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"count merge must combine map-side:\n$p")
  }

  test("q193/q197 NB scoring: zero-shuffle row-local apply — one scan, " +
      "one typed map, no exchange/join/window in the plan (r10)") {
    Seq("q193_naive_bayes", "q197_nb_loo").foreach { name =>
      val p = plan(name)
      // the state build runs at plan-construction time (driver collects
      // over the checkpointed counts); the SHIPPED plan is the
      // broadcast-model map over the corpus scan and nothing else
      assert(p.contains("MapPartitions"), s"$name must score in a typed map:\n$p")
      assert(!p.contains("Exchange"),
        s"$name scoring is row-local — no shuffle may survive:\n$p")
      assert(!p.contains("Join") && !p.contains("Window"), s"$name:\n$p")
    }
  }

  test("q196 minhash accuracy: signature materialized once, equality " +
      "band joins only — no cartesian, no nested loop (r10)") {
    val p = plan("q196_minhash_accuracy")
    assert(p.contains("Scan ExistingRDD"),
      s"the 32-lane signature must be computed once (checkpoint), not " +
        s"per curve point:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"candidates come from band-bucket equality joins:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the per-size error rollup must combine map-side:\n$p")
  }

  test("q203 PSI drift: map-side-combined bin counts, pruned scans, " +
      "no window, no sort-merge (r10)") {
    val p = plan("q203_psi_drift")
    assert(p.contains("partial_count"),
      s"the bin counts must combine map-side:\n$p")
    // the full-outer bin join rightly sort-merges (full-outer cannot
    // broadcast) — but over BIN COUNTS, never document rows: the sort
    // children must be aggregates, and no Window anywhere
    assert(!p.contains("Window"), p)
    // only the needed columns reach the scans (doc_id for the split,
    // n_chars for the bins — never text)
    assert(!p.contains("text"), s"the text column must never be read:\n$p")
  }

  test("q204 threshold sweep: the shipped plan is the collected bin " +
      "table — the classify chain + binning ran at plan construction, " +
      "no corpus window, no re-scoring (r11)") {
    val p = plan("q204_threshold_sweep")
    assert(p.contains("LocalTableScan"),
      s"the sweep rows must be a driver-built local relation:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Window") &&
      !p.contains("Join"), s"nothing distributed may survive:\n$p")
  }

  test("q205 incremental PSI: same shape as q203 — map-side bin " +
      "counts, no window, text never read; merge is union+re-aggregate " +
      "with no extra join (r11)") {
    val p = plan("q205_psi_incr")
    assert(p.contains("partial_count"),
      s"the bin counts must combine map-side:\n$p")
    assert(p.contains("partial_sum"),
      s"the state merge must combine map-side:\n$p")
    assert(!p.contains("Window"), p)
    assert(!p.contains("text"), s"the text column must never be read:\n$p")
    // exactly ONE join survives: the full-outer bin join of the two
    // sides — the additive merge is union + aggregate, never a join
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"the merge must not join:\n$p")
  }

  test("q206 shard re-plan: the shipped plan is the driver-built " +
      "assignment artifact (both rollups ran at plan construction) " +
      "(r11)") {
    val p = plan("q206_shard_replan")
    assert(p.contains("LocalTableScan"),
      s"the plan artifact must be a driver-built local relation:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("q207 NB evidence: no rank window (the q55 sort_array top-k " +
      "convention); works off the checkpointed count state (r11)") {
    val p = plan("q207_nb_evidence")
    assert(!p.contains("Window"),
      s"top-k must be the bounded collect_list aggregate, not a rank " +
        s"window:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the |V|·S count state must be pinned once:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the S-row constants must broadcast:\n$p")
  }

  test("q149 date window becomes a PartitionFilter (non-window directories never read)") {
    val p = plan("q149_date_partitioned_events")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("event_date"),
      s"date predicate must prune partitions, not filter rows:\n$p")
    // the partition column must NOT appear as a post-scan data filter
    // (extract the bracket contents — the whole FileScan prints on one line)
    val dataFilters = "DataFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!dataFilters.contains("event_date"),
      s"date filter leaked into data filters ($dataFilters):\n$p")
  }

  test("q210 mixture-from-state: the 1-row max broadcasts, no Window, " +
      "map-side-combined count state (r12)") {
    val p = plan("q210_mixture_from_state")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the n_max scalar must ride a 1-row broadcast, never shuffle " +
        s"the weights frame:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the per-source state rollup must combine map-side:\n$p")
  }

  test("q209 quality-from-state: centroid algebra is a broadcast " +
      "literal — no centroid join, no Window, no cartesian (r12)") {
    val p = plan("q209_cluster_quality_state")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    // the k-row nnCentroids relation is driver-local; its join to the
    // k-row intra rollup must broadcast, never sort-merge
    assert(!p.contains("SortMergeJoin"),
      s"the k-row report joins must broadcast:\n$p")
    // one aggregation over the state⋈vectors join with a map-side phase
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the per-cluster scatter must combine map-side:\n$p")
  }

  test("q208 capstone final assembly: batch-sized evidence joins " +
      "broadcast, no cartesian, no single-partition window (r12)") {
    val p = plan("q208_ingest_capstone")
    assert(!p.contains("CartesianProduct"), p)
    // per-line window check (the q165/q167 pattern; r13 ADVICE — the
    // old compound could both false-fail on an unrelated
    // SinglePartition exchange and false-pass a real global window):
    // every window must be keyed by a dedup hash/band column
    val windows = p.linesIterator.filter(_.contains("- Window [")).toSeq
    assert(windows.forall(w =>
      w.contains("windowspecdefinition(__h") ||
        w.contains("windowspecdefinition(band")),
      s"every capstone window must partition by a bounded dedup key, " +
        s"never globally:\n${windows.mkString("\n")}\n$p")
    // the pinned pre-NB evidence relation reads back as an RDD boundary
    // (the heavy dedup/decontam chain executes exactly once)
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed evidence relation:\n$p")
  }
}
