package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.{Sampling, SequencePacking}

/** Training-data curation queries: deterministic stratified sampling and
  * sequence packing over `documents` — the corpus-shaping steps between
  * dedup/quality-filtering and export. Both oracle-checked (md5 picks and
  * windowed running sums are engine-portable).
  */
object TrainingQueries {

  // Stratified sampling: exactly 20 docs per language by md5 order, plus
  // a ~25% hash-sampled flag — deterministic across engines.
  private def q61(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedExact(documents(s, d), "doc_id", "lang", n = 20)
      .select(col("doc_id"), col("lang"),
        (Sampling.hashSlot(col("doc_id"), "graft") < math.round(0.25 * 65536).toInt)
          .as("in_quarter_sample"))
      .orderBy(col("doc_id"))

  // Deterministic 80/10/10 train/val/test split: per-split doc counts,
  // language spread, and char volume. The oracle recomputes every row's
  // split from the same md5 slot, so a drift in boundary arithmetic
  // (52429/58982 = round(0.8·65536)/round(0.9·65536)) or in the salt
  // hash-fails. Disjointness+exhaustiveness is structural (when-chain).
  private def q110(s: SparkSession, d: String): DataFrame =
    Sampling.hashSplit(documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"))

  // Temperature-resampled corpus materialization: the alpha=0.5 source
  // mixture ACTUALLY SAMPLED (q77 computes the descriptive weights; this
  // applies them): per-source md5-slot keep bound sqrt(n_min/n_s), kept
  // volume rolled up per source. The oracle recomputes every row's pick,
  // so bound arithmetic, salt, and slot parsing are all hash-gated.
  private def q116(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureResample(documents(s, d), "doc_id", "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))

  // Concat-and-chop sequence packing: 256-token windows over 8 shards
  // (portable pmod sharding so the oracle reproduces the layout).
  private def q62(s: SparkSession, d: String): DataFrame =
    SequencePacking.concatChop(documents(s, d), "doc_id", "text",
      capacity = 256, shards = 8, shardBy = Some(pmod(col("doc_id"), lit(8))))
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        col("start_offset"), col("first_window"), col("last_window"),
        col("n_windows"))
      .orderBy(col("doc_id"))

  // Chunk-production capstone: the end-to-end path from a raw corpus to
  // deduplicated training chunks, as ONE query — exact doc dedup →
  // quality gate → repetition gate (duplicate-3-gram fraction < 0.5,
  // kernel-computed) → overlapping 40/30 chunking → per-language rollup
  // with CHUNK-level dedup (distinct chunk hashes catch cross-document
  // duplicated passages that doc-level dedup cannot). Every stage is the
  // oracle-verified operator; the whole plan has one shuffle (the dedup
  // window) before the final aggregate.
  private def q78(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Chunking, Dedup}
    import graft.functions.TextAnalysis
    val deduped = Dedup.exactDedup(documents(s, d), "text", "doc_id")
    val gated = deduped
      .filter(TextAnalysis.qualityScore(col("text"), Nil) >= 0.5)
      .withColumn("__total_sh",
        greatest(lit(0L),
          element_at(call_function("graft_text_metrics", col("text")), 1)
            .cast("long") - 2))
      .withColumn("__rep_e6",
        when(col("__total_sh") > 0,
          floor((lit(1.0) -
            call_function("graft_shingle_count", col("text"), lit(3)).cast("double") /
              col("__total_sh").cast("double")) * 1e6).cast("long"))
          .otherwise(0L))
      .filter(col("__rep_e6") < 500000)
    Chunking.chunk(gated, "text", winSize = 40, stride = 30)
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(md5(col("chunk_text"))).as("n_distinct_chunks"),
        sum(col("chunk_tokens").cast("long")).as("total_chunk_tokens"))
      .orderBy(col("lang"))
  }

  // The full corpus-curation pipeline as ONE query: exact dedup
  // (keep-first) → quality filter → stratified sample (≤50/lang by md5
  // order) → per-language stats. The composition every pretraining corpus
  // goes through between ingest and packing; each stage reuses the
  // oracle-verified operator.
  private def q63(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.TextAnalysis
    val deduped = Dedup.exactDedup(documents(s, d), "text", "doc_id")
    val filtered = deduped
      .filter(TextAnalysis.qualityScore(col("text"), Nil) >= 0.5)
    Sampling.stratifiedExact(filtered, "doc_id", "lang", n = 50)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
        sum(TextAnalysis.tokenEstimate(col("text"))).as("total_est_tokens"))
      .orderBy(col("lang"))
  }

  // Train/eval contamination check: per eval-split doc, the fraction of
  // its distinct 3-gram shingles that appear anywhere in the train split
  // (the n-gram-containment test run before trusting a benchmark score).
  // Deterministic split by doc_id mod; one semi-joinable LEFT join on the
  // shingle string — at corpus scale the train side is a distinct shingle
  // set that AQE sizes, or a bloom-filter broadcast if approximate
  // containment suffices. Counts are integers; the ratio is one IEEE
  // division (parity-safe).
  private def q71(s: SparkSession, d: String): DataFrame = {
    // shingle generation is row-local (graft_shingles array + explode) —
    // no window-lead shuffle just to build the join keys
    val sh = documents(s, d).select(col("doc_id").as("id"),
      explode(call_function("graft_shingles", col("text"), lit(3))).as("shingle"))
    val trainSh = sh.filter(col("id") % 10 =!= 0).select(col("shingle")).distinct()
    val evalSh = sh.filter(col("id") % 10 === 0)
      .select(col("id"), col("shingle")).distinct()
    evalSh
      .join(trainSh.withColumn("hit", lit(1L)), Seq("shingle"), "left")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  // GPT-3-style 13-gram decontamination (r7): the published benchmark
  // cleanup rule — an eval document is DIRTY if any of its distinct
  // 13-gram shingles appears anywhere in the train split (a binary
  // kill, unlike q71's 3-gram containment FRACTION). Output is the
  // dirty list with its overlap count; clean docs never leave the
  // join. Same kernel shingles, same deterministic doc_id-mod split;
  // at corpus scale the distinct-13-gram train side is the bloom/
  // semi-join shape q113 already demonstrates.
  private def q153(s: SparkSession, d: String): DataFrame = {
    // r13 shuffle diet (the q208 decontamination-rung rule): a 13-gram
    // shingle is ~80 chars and only ever EQUALITY-compared here, so the
    // distincts and the join ride its 16-byte md5 instead of the string
    // — same equivalence classes (a cross-gram collision is ~2^-128 and
    // the oracle gate at both SFs would catch it), ~5x fewer exchange
    // bytes. Output columns are counts only; nothing downstream reads
    // the gram text.
    val sh = documents(s, d).select(col("doc_id"),
      explode(call_function("graft_shingles", col("text"), lit(13))).as("shingle"))
      .select(col("doc_id"), unhex(md5(col("shingle"))).as("__h"))
    val trainSh = sh.filter(col("doc_id") % 10 =!= 0)
      .select(col("__h")).distinct()
    sh.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("__h")).distinct()
      .join(trainSh, Seq("__h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dirty_13grams"))
      .orderBy(col("doc_id"))
  }

  // q71's exact semantics THROUGH the partitioned-bloom pruner: per-part
  // bitmaps aggregated over the train shingles, probes co-partitioned to
  // their bitmap (zipPartitions, never a driver literal), survivors
  // verified by the exact semi-join. The oracle is the plain exact join —
  // false positives cost verify work, never output bits, so this is
  // hash-exact at ANY bloom sizing (the per-part sizing here is right
  // for sf0.01 and deliberately under-sized at sf0.1+: only the pruning
  // rate degrades).
  private def q113(s: SparkSession, d: String): DataFrame = {
    val sh = documents(s, d).select(col("doc_id"),
      explode(call_function("graft_shingles", col("text"), lit(3))).as("shingle"))
    val trainSh = sh.filter(col("doc_id") % 10 =!= 0)
      .select(col("shingle")).distinct()
    val evalSh = sh.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("shingle")).distinct()
    graft.operators.BloomFilters.contaminationBloomPruned(
      trainSh, evalSh, "doc_id", "shingle",
      expectedItemsPerPart = 16384L, numBitsPerPart = 16384L * 16,
      numPartitions = 16)
      .orderBy(col("doc_id"))
  }

  // Token-budget fill: keep documents, largest first (n_chars DESC is
  // the deterministic stand-in for quality DESC — any total order
  // works), while the running token total fits a 20k budget. The
  // running total is the distributed two-pass prefix sum — NEVER the
  // single-partition `sum OVER (ORDER BY)` window the oracle uses
  // (PrefixSum scaladoc; PrefixSumSpec plan assert).
  private def q136(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .withColumn("n_tokens",
        size(graft.functions.TextAnalysis.tokens(col("text"))).cast("long"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"))
    graft.operators.PrefixSum.budgetFill(
      toks, "n_tokens", 20000L,
      col("n_chars").desc, col("doc_id"))
  }

  // Systematic PPS sample: 100 expected picks proportional to n_chars,
  // deterministic (threshold grid on the cumulative-weight axis, integer
  // floor-div) — the cross-engine-reproducible form of weighted sampling
  // without replacement (float u^(1/w) keys are not portable).
  private def q137(s: SparkSession, d: String): DataFrame =
    graft.operators.PrefixSum.systematicPps(
      documents(s, d).select(col("doc_id"), col("n_chars")),
      "n_chars", 100, "cum_w", col("doc_id"))

  // PER-SOURCE token-budget fill (the mixture-manifest shape: each
  // source contributes at most 2k tokens, best docs first). Unlike
  // q136's GLOBAL budget — which needs the two-pass prefix sum because
  // a global ordered window serializes through one task — a per-group
  // budget is exactly what a partitioned window does well: groups are
  // many, each group's window is one task's work. Knowing which of the
  // two shapes applies IS the operator knowledge here.
  private def q142(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .withColumn("n_tokens", size(graft.functions.TextAnalysis.tokens(col("text"))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 2000)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), max(col("cum_tokens")).as("used_tokens"))
  }

  // Round-robin curriculum interleave: a balanced source ordering for
  // the training stream — doc k of source s lands at position
  // (k-1)*n_sources + source_ordinal, so consecutive training examples
  // rotate through sources. The interleave position is a PURE FUNCTION
  // of per-source rank + a tiny source-ordinal table: no global sort
  // materializes the curriculum, which is what makes it writable at
  // 100 TB (contrast: ORDER BY interleave_pos would serialize through
  // one task; a writer just partitions by pos range instead). First
  // 100 positions here.
  private def q145(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("src_ord",
        row_number().over(Window.orderBy(col("source"))).cast("long"))
    val nSrc = srcIdx.count()
    val ranked = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      .join(srcIdx, "source")
      .withColumn("pos", (col("rk") - 1) * lit(nSrc) + col("src_ord"))
    ranked.filter(col("pos") <= 100)
      .select(col("pos"), col("doc_id"), col("source"))
  }

  // Round-6 capstone: the corpus-curation path a pretraining mix
  // actually runs, as ONE query — exact dedup (keep-first) → EXACT
  // near-dup prune (set-sim join, J >= 0.9 within (lang, source)
  // blocks; a doc drops when it pairs with ANY lower id — the
  // conservative dominated-doc rule, deterministic without iterating)
  // → quality gate → per-source 2k-token budget fill → per-source
  // rollup. Every stage is an oracle-verified operator; the near-dup
  // prune is the q134 machinery feeding an anti-join.
  private def q146(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Dedup, SetSimJoin}
    import graft.functions.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    // the dedup window feeds the set-sim machinery AND the kept join —
    // pin the (small) surviving set so the window runs once (the q132
    // localCheckpoint pattern; measured 2.08 -> 1.87 s at sf0.1).
    // r7 (VERDICT item 4): the checkpoint now carries the TOKEN ARRAY,
    // computed once — the set-sim prune, the quality gate, and the
    // budget fill all read it instead of each re-running the tokenize
    // kernel over the corpus text; raw text drops before the pin.
    // Measured at sf0.1 (interleaved A/B, values equal): NEUTRAL —
    // old 1.51-1.67 s vs new 1.57-1.66 s; the kernel is not the sf0.1
    // bottleneck (the composition is selfJoin-floor-bound: q134 alone
    // reads 1.2-1.5 s in the same mode, so q146's own stages add only
    // ~0.4 s). Kept anyway: tokenize cost is data-proportional, so at
    // corpus scale computing it once instead of three times is the
    // right plan even though the sf0.1 clock cannot see it.
    val deduped = Dedup.exactDedup(documents(s, d), "text", "doc_id")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .drop("text")
      .localCheckpoint()
    val dropped = SetSimJoin.selfJoin(deduped, "doc_id",
        col("toks"), 9, 10, Seq("lang", "source"))
      .select(col("id_b").as("doc_id")).distinct()
    val kept = deduped.join(dropped, Seq("doc_id"), "left_anti")
    val gated = kept
      .filter(TextAnalysis.qualityScoreFromTokens(col("toks"), Nil) >= 0.5)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .drop("toks")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gated
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 2000)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        max(col("cum_tokens")).as("used_tokens"))
  }

  // Per-source quality-quantile gate (r7): keep each source's top
  // quartile by length — the "select above the Nth percentile OF ITS
  // OWN source" balancing rule (a global threshold would let one
  // verbose source crowd out the rest). The per-source P75 reads off a
  // freq state on the integral n_chars grid (the q135 machinery —
  // thresholds are |groups|-sized, broadcast back over the corpus), so
  // the threshold derivation shuffles state rows, never re-sorts
  // facts. Exact integers end to end; the oracle re-derives the same
  // cum*4 >= 3*total lower-quantile rank rule from a full scan.
  private def q152(s: SparkSession, d: String): DataFrame = {
    import graft.operators.AggState
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val p75 = AggState.quantileFromFreq(
        AggState.buildFreqExpr(docs, Seq("source"), col("n_chars")),
        Seq("source"), 3, 4)
      .select(col("source"), col("q_cents").as("p75_chars"))
    docs.join(broadcast(p75), "source")
      .filter(col("n_chars") >= col("p75_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("p75_chars"))
      .orderBy(col("doc_id"))
  }

  // q153's kill rule THROUGH the persisted-bitmap pruner (r8): build
  // the bloom table, co-partition the eval shingles against it, verify
  // survivors exactly. Output is hash-identical to q153 (false
  // positives cost verify work, never output bits) — so the oracle IS
  // the q153 SQL, making the pruned composition's exactness a gated
  // fact rather than a scaladoc claim. Bloom sizing is the q113
  // bench-scale convention (exactness holds at ANY sizing — only the
  // pruning rate varies); the x100 sizing and the amortized byte
  // profile are in BASELINE.md "Round-8: x100 span/contamination
  // dossier". The operator
  // pins the train-shingle corpus and the counted survivors for the
  // call and broadcast-verifies the survivors — the smoke's measured
  // steady-batch shape.
  private def q158(s: SparkSession, d: String): DataFrame = {
    val sh = documents(s, d).select(col("doc_id"),
      explode(call_function("graft_shingles", col("text"), lit(13)))
        .as("shingle"))
    val trainSh = sh.filter(col("doc_id") % 10 =!= 0)
      .select(col("shingle")).distinct()
    val evalSh = sh.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("shingle")).distinct()
    graft.operators.BloomFilters
      .verifiedHitsBloomPruned(trainSh, evalSh, "doc_id", "shingle",
        expectedItemsPerPart = 16384L, numBitsPerPart = 16384L * 16,
        numPartitions = 16)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dirty_13grams"))
      .orderBy(col("doc_id"))
  }

  // Cross-source overlap matrix (r8): for every source pair, how many
  // distinct 13-grams they share — the corpus-provenance audit a
  // curation pass runs to find sources that copy from each other
  // (mirror sites, scraped re-posts) before mixture weighting trusts
  // per-source counts. Emits integers only (n_shared, n_a, n_b); the
  // Jaccard/containment division is the consumer's monotone transform
  // (the q117/q138 convention). Scale shape: distinct (source,
  // shingle) is one corpus-linear aggregate; the self-join fans out
  // per shingle by (sources containing it choose 2) <= S² — bounded
  // by the SOURCE count, not the corpus, the set-sim prefix argument
  // in miniature. Output <= S(S-1)/2 rows; per-source totals ride
  // broadcast joins.
  private def q159(s: SparkSession, d: String): DataFrame =
    graft.operators.SourceOverlap.matrix(
      documents(s, d).select(col("source"),
        explode(call_function("graft_shingles", col("text"), lit(13)))
          .as("shingle")),
      "source", "shingle")

  // q159 with the boilerplate guard (r8 VERDICT #1): shingles present
  // in more than maxSourcesPerKey sources are dropped BEFORE the pair
  // join — at web-scale source counts (domains as sources) one
  // boilerplate shingle in 10⁵ sources would emit ~5·10⁹ pairs, the
  // frequent-token blowup SetSimJoin answers with prefix filtering.
  // Cap=2 here so the gate actually FIRES on the test corpora (the
  // generator's max source-df is 3 at sf0.001/sf0.01: ~70 shingles
  // dropped) — the oracle replays the same deterministic df gate, so
  // exactness is preserved, not merely claimed. Totals n_a/n_b count
  // the capped key universe (Jaccard numerator/denominator agree).
  private def q160(s: SparkSession, d: String): DataFrame =
    graft.operators.SourceOverlap.matrix(
      documents(s, d).select(col("source"),
        explode(call_function("graft_shingles", col("text"), lit(13)))
          .as("shingle")),
      "source", "shingle", maxSourcesPerKey = 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q160_source_overlap_capped" -> q160 _,
    "q159_source_overlap" -> q159 _,
    "q158_decontaminate_bloom" -> q158 _,
    "q146_curation_capstone" -> q146 _,
    "q152_source_quantile_gate" -> q152 _,
    "q153_decontaminate_13gram" -> q153 _,
    "q136_token_budget_fill" -> q136 _,
    "q137_systematic_pps" -> q137 _,
    "q142_per_source_budget" -> q142 _,
    "q145_curriculum_interleave" -> q145 _,
    "q113_partitioned_bloom" -> q113 _,
    "q116_temperature_resample" -> q116 _,
    "q61_stratified_sample" -> q61 _,
    "q110_hash_split" -> q110 _,
    "q62_sequence_packing" -> q62 _,
    "q63_corpus_curation" -> q63 _,
    "q71_contamination" -> q71 _,
    "q78_chunk_pipeline" -> q78 _,
    "q202_contamination_decisions" -> q202 _
  )

  // Contamination decision table (r10): the q188 keep/drop-artifact
  // convention applied to DECONTAMINATION — one row per eval doc with
  // verdict ∈ {exact_dup, dirty_13gram, suspect_3gram, clean} under
  // documented precedence (an exact train copy also shares every
  // 13-gram; a 13-gram hit subsumes high 3-gram containment) plus the
  // evidence each layer produced: the matching train doc (min id),
  // the dirty-13-gram count (q153's rule), and the exact integer
  // 3-gram containment (q71's fraction as e6 — suspects gate at 0.8).
  // Composes the three oracle-green layers under ONE hash.
  private def q202(s: SparkSession, d: String): DataFrame =
    contaminationDecisions(documents(s, d))

  /** The q202 body over an explicit corpus — factored so the spec can
    * plant the exact_dup branch and the precedence ladder the sf
    * fixtures don't reach (the q188 convention). */
  private[queries] def contaminationDecisions(docs: DataFrame): DataFrame = {
    val isEval = col("doc_id") % 10 === 0
    val nh = md5(graft.operators.Dedup.normalized(col("text")))
    val exact = docs.filter(isEval).select(col("doc_id"), nh.as("__nh"))
      .join(docs.filter(!isEval)
          .select(nh.as("__nh"), col("doc_id").as("__tid"))
          .groupBy(col("__nh")).agg(min(col("__tid")).as("exact_match_id")),
        Seq("__nh"), "left")
      .select(col("doc_id"), col("exact_match_id"))
    def grams(n: Int) = docs.select(col("doc_id"),
      explode(call_function("graft_shingles", col("text"), lit(n))).as("shingle"))
    // r13: the 13-gram rung rides 16-byte md5 digests through its
    // distincts and join (the q153/q208 diet — ~80-char grams are only
    // equality-compared); the 3-gram rung keeps strings (a 3-gram is
    // barely wider than the digest, so the md5 CPU would buy nothing).
    val sh13 = grams(13)
      .select(col("doc_id"), unhex(md5(col("shingle"))).as("__h13"))
    val dirty13 = sh13.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("__h13")).distinct()
      .join(sh13.filter(col("doc_id") % 10 =!= 0)
        .select(col("__h13")).distinct(), Seq("__h13"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dirty_13grams"))
    val sh3 = grams(3)
    val cont3 = sh3.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("shingle")).distinct()
      .join(sh3.filter(col("doc_id") % 10 =!= 0)
          .select(col("shingle")).distinct().withColumn("hit", lit(1L)),
        Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"), sum(coalesce(col("hit"), lit(0L))).as("__nh3"))
    exact
      .join(dirty13, Seq("doc_id"), "left")
      .join(cont3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_match_id"),
        coalesce(col("n_dirty_13grams"), lit(0L)).as("n_dirty_13grams"),
        expr("coalesce(__nh3, 0L) * 1000000L div greatest(coalesce(__n, 1L), 1L)")
          .as("containment_e6"))
      .withColumn("verdict",
        when(col("exact_match_id").isNotNull, lit("exact_dup"))
          .when(col("n_dirty_13grams") > 0, lit("dirty_13gram"))
          .when(col("containment_e6") >= 800000L, lit("suspect_3gram"))
          .otherwise(lit("clean")))
  }

  val oracle: Map[String, String] = Map(
    // q152: per-source P75 via the same cum*4 >= 3*total lower-quantile
    // rank rule the freq-state walk applies, then the >= gate
    "q152_source_quantile_gate" ->
      ("WITH f AS (SELECT source, n_chars AS v, COUNT(*) AS n " +
        "FROM documents GROUP BY 1, 2), " +
        "w AS (SELECT source, v, " +
        "SUM(n) OVER (PARTITION BY source ORDER BY v " +
        "ROWS UNBOUNDED PRECEDING) AS cum, " +
        "SUM(n) OVER (PARTITION BY source) AS total FROM f), " +
        "p AS (SELECT source, MIN(v) AS p75_chars FROM w " +
        "WHERE cum * 4 >= 3 * total GROUP BY source) " +
        "SELECT d.doc_id, d.source, d.n_chars, p.p75_chars " +
        "FROM documents d JOIN p ON d.source = p.source " +
        "WHERE d.n_chars >= p.p75_chars ORDER BY d.doc_id"),
    // q160: q159's construction with the source-df gate replayed —
    // keys in more than 2 sources dropped before pairing, totals over
    // the capped key universe
    "q160_source_overlap_capped" ->
      ("WITH t AS (SELECT source, string_split_regex(text, '\\s+') AS l " +
        "FROM documents), " +
        "sh0 AS (SELECT DISTINCT source, md5(shingle) AS k FROM " +
        "(SELECT source, unnest(list_transform(" +
        "generate_series(1, len(l) - 12), " +
        "i -> array_to_string(l[i:i+12], ' '))) AS shingle FROM t)), " +
        "sh AS (SELECT source, k FROM (SELECT source, k, " +
        "COUNT(*) OVER (PARTITION BY k) AS df FROM sh0) WHERE df <= 2), " +
        "c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1), " +
        "p AS (SELECT a.source AS source_a, b.source AS source_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM sh a JOIN sh b ON a.k = b.k AND a.source < b.source " +
        "GROUP BY 1, 2) " +
        "SELECT p.source_a, p.source_b, p.n_shared, ca.n AS n_a, cb.n AS n_b " +
        "FROM p JOIN c ca ON ca.source = p.source_a " +
        "JOIN c cb ON cb.source = p.source_b " +
        "ORDER BY p.source_a, p.source_b"),
    // q159: distinct (source, shingle) → ordered self-join pairs →
    // counts; per-source totals joined back
    "q159_source_overlap" ->
      ("WITH t AS (SELECT source, string_split_regex(text, '\\s+') AS l " +
        "FROM documents), " +
        "sh AS (SELECT DISTINCT source, md5(shingle) AS k FROM " +
        "(SELECT source, unnest(list_transform(" +
        "generate_series(1, len(l) - 12), " +
        "i -> array_to_string(l[i:i+12], ' '))) AS shingle FROM t)), " +
        "c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1), " +
        "p AS (SELECT a.source AS source_a, b.source AS source_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM sh a JOIN sh b ON a.k = b.k AND a.source < b.source " +
        "GROUP BY 1, 2) " +
        "SELECT p.source_a, p.source_b, p.n_shared, ca.n AS n_a, cb.n AS n_b " +
        "FROM p JOIN c ca ON ca.source = p.source_a " +
        "JOIN c cb ON cb.source = p.source_b " +
        "ORDER BY p.source_a, p.source_b"),
    // q158: the bloom-pruned composition is output-identical to q153
    // by construction (exact verify), so its oracle is the same SQL
    "q158_decontaminate_bloom" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS l " +
        "FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, len(l) - 12), " +
        "i -> array_to_string(l[i:i+12], ' '))) AS ss FROM t), " +
        "e AS (SELECT doc_id, unnest(ss) AS shingle FROM sh WHERE doc_id % 10 = 0), " +
        "tr AS (SELECT DISTINCT unnest(ss) AS shingle FROM sh WHERE doc_id % 10 <> 0) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dirty_13grams " +
        "FROM e JOIN tr USING (shingle) GROUP BY doc_id ORDER BY doc_id"),
    // q153: same 13-gram construction (space-joined token windows, the
    // q34 shingle convention at n=13), distinct on both sides
    "q153_decontaminate_13gram" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS l " +
        "FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, len(l) - 12), " +
        "i -> array_to_string(l[i:i+12], ' '))) AS ss FROM t), " +
        "e AS (SELECT doc_id, unnest(ss) AS shingle FROM sh WHERE doc_id % 10 = 0), " +
        "tr AS (SELECT DISTINCT unnest(ss) AS shingle FROM sh WHERE doc_id % 10 <> 0) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dirty_13grams " +
        "FROM e JOIN tr USING (shingle) GROUP BY doc_id ORDER BY doc_id"),
    // q146: keep-first dedup → the q134 prefix-filtered pair chain on
    // the deduped set → dominated-doc anti-join → quality gate (split
    // list WITH duplicates — distinct list only for the set-sim sizes)
    // → per-source budget window → rollup
    "q146_curation_capstone" ->
      ("WITH dd AS (SELECT doc_id, lang, source, n_chars, text FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY " +
        "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) " +
        "ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1), " +
        "t AS (SELECT doc_id, lang, source, n_chars, " +
        "string_split_regex(text, '\\s+') AS ls, " +
        "list_distinct(string_split_regex(text, '\\s+')) AS ld FROM dd), " +
        "tok AS (SELECT doc_id, lang, source, len(ld) AS sz, unnest(ld) AS token FROM t), " +
        "dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY 1), " +
        "ord AS (SELECT doc_id, lang, source, sz, token, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY df, token) AS pos " +
        "FROM tok JOIN dfreq USING (token)), " +
        "pre AS (SELECT * FROM ord WHERE pos <= sz - ((9*sz + 9) // 10) + 1), " +
        "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "a.sz AS sz_a, b.sz AS sz_b " +
        "FROM pre a JOIN pre b ON a.token = b.token AND a.lang = b.lang " +
        "AND a.source = b.source AND a.doc_id < b.doc_id " +
        "AND a.sz * 10 >= 9 * b.sz AND b.sz * 10 >= 9 * a.sz " +
        "AND 1 + least(a.sz - a.pos, b.sz - b.pos) >= (9*(a.sz+b.sz) + 18) // 19 " +
        "GROUP BY 1, 2, 3, 4), " +
        "dropped AS (SELECT DISTINCT id_b FROM cand " +
        "JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b " +
        "WHERE CAST(len(list_filter(ta.ld, x -> list_contains(tb.ld, x))) AS BIGINT) * 10 " +
        ">= 9 * (sz_a + sz_b - len(list_filter(ta.ld, x -> list_contains(tb.ld, x))))), " +
        "kept AS (SELECT * FROM t WHERE doc_id NOT IN (SELECT id_b FROM dropped)), " +
        "g AS (SELECT doc_id, lang, source, n_chars, " +
        "CAST(len(ls) AS BIGINT) AS n_tokens FROM kept " +
        "WHERE (LEAST(CAST(len(ls) AS DOUBLE) / 20.0, 1.0) + " +
        "CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)) / 2.0 >= 0.5), " +
        "c AS (SELECT source, lang, n_tokens, " +
        "sum(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM g) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(MAX(cum_tokens) AS BIGINT) AS used_tokens " +
        "FROM c WHERE cum_tokens <= 2000 GROUP BY source"),
    "q145_curriculum_interleave" ->
      ("WITH si AS (SELECT source, " +
        "CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_ord " +
        "FROM (SELECT DISTINCT source FROM documents)), " +
        "ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM si), " +
        "r AS (SELECT doc_id, source, " +
        "CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk FROM documents) " +
        "SELECT (r.rk - 1) * ns.n + si.src_ord AS pos, r.doc_id, r.source " +
        "FROM r JOIN si ON si.source = r.source, ns " +
        "WHERE (r.rk - 1) * ns.n + si.src_ord <= 100"),
    "q142_per_source_budget" ->
      ("WITH t AS (SELECT doc_id, source, n_chars, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT source, n_tokens, " +
        "sum(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM t) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(MAX(cum_tokens) AS BIGINT) AS used_tokens " +
        "FROM c WHERE cum_tokens <= 2000 GROUP BY source"),
    "q136_token_budget_fill" ->
      ("WITH t AS (SELECT doc_id, n_chars, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, n_chars, n_tokens, " +
        "sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum_total FROM t) " +
        "SELECT doc_id, n_chars, n_tokens, CAST(cum_total AS BIGINT) AS cum_total " +
        "FROM c WHERE cum_total <= 20000"),
    "q137_systematic_pps" ->
      ("WITH c AS (SELECT doc_id, n_chars, " +
        "sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum " +
        "FROM documents), " +
        "t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w FROM documents) " +
        "SELECT doc_id, n_chars, CAST(cum AS BIGINT) AS cum_w, " +
        "CAST((cum * 100) // w - ((cum - n_chars) * 100) // w AS BIGINT) AS n_picks " +
        "FROM c, t WHERE (cum * 100) // w > ((cum - n_chars) * 100) // w"),
    "q78_chunk_pipeline" ->
      ("WITH dd AS (SELECT doc_id, lang, text FROM " +
        "(SELECT doc_id, lang, text, ROW_NUMBER() OVER " +
        "(PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) " +
        "ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1), " +
        "t AS (SELECT doc_id, lang, string_split_regex(text, '\\s+') AS l FROM dd), " +
        "q AS (SELECT doc_id, lang, l, len(l) AS n, " +
        "len(list_distinct(l)) AS dtok, " +
        "GREATEST(0, len(l) - 2) AS total_sh, " +
        "len(list_distinct(list_transform(generate_series(1, len(l) - 2), " +
        "i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS dist_sh FROM t), " +
        "g AS (SELECT doc_id, lang, l, n FROM q WHERE " +
        "(LEAST(CAST(n AS DOUBLE) / 20.0, 1.0) + CAST(dtok AS DOUBLE) / n) / 2.0 >= 0.5 " +
        "AND (CASE WHEN total_sh > 0 THEN CAST(FLOOR((1.0 - " +
        "CAST(dist_sh AS DOUBLE) / CAST(total_sh AS DOUBLE)) * 1000000.0) AS BIGINT) " +
        "ELSE 0 END) < 500000), " +
        "c AS (SELECT doc_id, lang, " +
        "LEAST(40, n - i * 30) AS chunk_tokens, " +
        "array_to_string(list_slice(l, i * 30 + 1, i * 30 + 40), ' ') AS chunk_text " +
        "FROM g, UNNEST(range(0, CAST(FLOOR((n - 1) / 30.0) AS BIGINT) + 1)) u(i)) " +
        "SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "COUNT(*) AS n_chunks, " +
        "CAST(COUNT(DISTINCT md5(chunk_text)) AS BIGINT) AS n_distinct_chunks, " +
        "CAST(SUM(chunk_tokens) AS BIGINT) AS total_chunk_tokens " +
        "FROM c GROUP BY lang ORDER BY lang"),
    "q63_corpus_curation" ->
      ("WITH dd AS (SELECT doc_id, lang, text FROM " +
        "(SELECT doc_id, lang, text, ROW_NUMBER() OVER " +
        "(PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) " +
        "ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1), " +
        "q AS (SELECT doc_id, lang, text, " +
        "len(string_split_regex(text, '\\s+')) AS n, " +
        "len(list_distinct(string_split_regex(text, '\\s+'))) AS dtok FROM dd), " +
        "f AS (SELECT * FROM q WHERE " +
        "(LEAST(CAST(n AS DOUBLE) / 20.0, 1.0) + CAST(dtok AS DOUBLE) / n) / 2.0 >= 0.5), " +
        "sampled AS (SELECT * FROM f QUALIFY ROW_NUMBER() OVER " +
        "(PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) <= 50) " +
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens, " +
        "CAST(SUM(GREATEST(1, CAST(FLOOR(LENGTH(text) / 4.0) AS BIGINT))) AS BIGINT) AS total_est_tokens " +
        "FROM sampled GROUP BY lang ORDER BY lang"),
    "q116_temperature_resample" ->
      ("WITH ps AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source), " +
        "m AS (SELECT MIN(n_docs) AS n_min FROM ps), " +
        "w AS (SELECT source, CAST(FLOOR(sqrt(CAST(n_min AS DOUBLE)) / " +
        "sqrt(CAST(n_docs AS DOUBLE)) * 65536.0) AS INT) AS bound FROM ps, m) " +
        "SELECT d.source, COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars " +
        "FROM documents d JOIN w ON w.source = d.source " +
        "WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':graft-mix'), 1, 4))::INT < w.bound " +
        "GROUP BY d.source ORDER BY d.source"),
    "q110_hash_split" ->
      ("SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM (" +
        "SELECT lang, n_chars, CASE " +
        "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-split'), 1, 4))::INT < 52429 THEN 'train' " +
        "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-split'), 1, 4))::INT < 58982 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents) " +
        "GROUP BY split ORDER BY split"),
    "q61_stratified_sample" ->
      ("SELECT doc_id, lang, " +
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4))::INT < 16384 " +
        "AS in_quarter_sample FROM (" +
        "SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) AS rk " +
        "FROM documents) WHERE rk <= 20 ORDER BY doc_id"),
    "q62_sequence_packing" ->
      ("SELECT shard, doc_id, n_tokens, start_offset, " +
        "CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS first_window, " +
        "CAST(FLOOR((start_offset + n_tokens - 1) / 256.0) AS BIGINT) AS last_window, " +
        "CAST(FLOOR((start_offset + n_tokens - 1) / 256.0) - FLOOR(start_offset / 256.0) + 1 AS BIGINT) AS n_windows " +
        "FROM (SELECT shard, doc_id, n_tokens, " +
        "COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_offset " +
        "FROM (SELECT doc_id % 8 AS shard, doc_id, " +
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents)) ORDER BY doc_id"),
    "q113_partitioned_bloom" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS l FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 2), " +
        "i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s FROM t), " +
        "train AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 0), " +
        "ev AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 10 = 0) " +
        "SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, " +
        "CAST(SUM(CASE WHEN train.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "CAST(SUM(CASE WHEN train.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) " +
        "AS contamination " +
        "FROM ev LEFT JOIN train ON train.s = ev.s " +
        "GROUP BY ev.doc_id ORDER BY ev.doc_id"),
    // q202: the three layers' oracles composed under one hash — exact
    // normalized-text match, q153's distinct-13-gram rule, q71's
    // containment as e6 integers, the same verdict CASE chain
    "q202_contamination_decisions" ->
      ("WITH nt AS (SELECT doc_id, " +
        "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nx FROM documents), " +
        "th AS (SELECT nx, MIN(doc_id) AS exact_match_id FROM nt " +
        "WHERE doc_id % 10 <> 0 GROUP BY 1), " +
        "ex AS (SELECT nt.doc_id, th.exact_match_id FROM nt " +
        "LEFT JOIN th ON th.nx = nt.nx WHERE nt.doc_id % 10 = 0), " +
        "t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS l FROM documents), " +
        "s13 AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, len(l) - 12), " +
        "i -> array_to_string(l[i:i+12], ' '))) AS ss FROM t), " +
        "d13 AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n13 FROM " +
        "(SELECT doc_id, unnest(ss) AS s FROM s13 WHERE doc_id % 10 = 0) e JOIN " +
        "(SELECT DISTINCT unnest(ss) AS s FROM s13 WHERE doc_id % 10 <> 0) tr " +
        "USING (s) GROUP BY 1), " +
        "s3 AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, len(l) - 2), " +
        "i -> array_to_string(l[i:i+2], ' '))) AS ss FROM t), " +
        "c3 AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nh FROM " +
        "(SELECT doc_id, unnest(ss) AS s FROM s3 WHERE doc_id % 10 = 0) e LEFT JOIN " +
        "(SELECT DISTINCT unnest(ss) AS s FROM s3 WHERE doc_id % 10 <> 0) tr " +
        "USING (s) GROUP BY 1) " +
        "SELECT ex.doc_id, ex.exact_match_id, " +
        "CAST(COALESCE(d13.n13, 0) AS BIGINT) AS n_dirty_13grams, " +
        "CAST(COALESCE(c3.nh, 0) * 1000000 // GREATEST(COALESCE(c3.n, 1), 1) AS BIGINT) " +
        "AS containment_e6, " +
        "CASE WHEN ex.exact_match_id IS NOT NULL THEN 'exact_dup' " +
        "WHEN COALESCE(d13.n13, 0) > 0 THEN 'dirty_13gram' " +
        "WHEN COALESCE(c3.nh, 0) * 1000000 // GREATEST(COALESCE(c3.n, 1), 1) >= 800000 " +
        "THEN 'suspect_3gram' ELSE 'clean' END AS verdict " +
        "FROM ex LEFT JOIN d13 USING (doc_id) LEFT JOIN c3 USING (doc_id) " +
        "ORDER BY ex.doc_id"),
    "q71_contamination" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS l FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 2), " +
        "i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s FROM t), " +
        "train AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 0), " +
        "ev AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 10 = 0) " +
        "SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, " +
        "CAST(SUM(CASE WHEN train.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "CAST(SUM(CASE WHEN train.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) " +
        "AS contamination " +
        "FROM ev LEFT JOIN train ON train.s = ev.s " +
        "GROUP BY ev.doc_id ORDER BY ev.doc_id")
  )
}
