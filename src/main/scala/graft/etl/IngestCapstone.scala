package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DriftMonitor, NaiveBayes, SegmentDedup}

/** The incremental-pipeline capstone (r12, VERDICT r11 #1): one batch
  * flows state-to-state through every proven incremental rung —
  * segment dedup → exact dedup → MinHash-LSH near-dup →
  * 13-gram/3-gram decontamination → Naive-Bayes quality gate →
  * PSI drift check → budgeted shard re-plan — and emits ONE
  * keep/drop/route decision row per batch document. This is the
  * artifact a 100-TB pipeline ships daily; each rung is individually
  * oracle-green (q171/q188/q185/q202/q195/q205/q206), and the
  * capstone proves the state contracts COMPOSE:
  *
  *  - the NB gate's model is the warehouse count state merged with
  *    the counts of ONLY the batch docs that survived dedup +
  *    decontamination — dedup drops feed the priors (a dropped near
  *    dup never inflates its class), which is exactly what a
  *    from-scratch train over "corpus minus drops" would see;
  *  - the shard re-plan's delta weights are ONLY the kept docs —
  *    verdicts feed the planner, so a contaminated source's weight
  *    never moves shards.
  *
  * Verdict precedence (first match wins; reference semantics are the
  * member rungs' own — `tag_comparison.py:53-224`-style precedence
  * ladders re-expressed over documents):
  *   1. `exact_dup`    — the normalized-text class (warehouse ∪ batch)
  *                       has a smaller-id member (q188's keeper rule;
  *                       evidence: `survivor` = the class min).
  *   2. `shell_doc`    — ≥ 1 segment and EVERY segment already exists
  *                       (warehouse segment state or an earlier
  *                       position — q171's dead rule). Checked after
  *                       exact_dup because every exact dup is also a
  *                       shell; the more specific verdict wins.
  *   3. `near_dup`     — a MinHash-LSH pair (q185's banded probe +
  *                       exact-Jaccard verify) links it to a
  *                       smaller-id doc (evidence: min counterpart).
  *   4. `dirty_13gram` — shares a 13-token shingle with the benchmark
  *                       set (q202's rule; evidence: hit count).
  *   5. `suspect_3gram`— distinct-3-gram containment vs the benchmark
  *                       ≥ 0.8 (q202's rule; evidence: exact e6).
  *   6. `nb_disagrees` — the NB gate's argmax label contradicts the
  *                       declared one (label-noise routing; evidence:
  *                       `predicted`, `margin_e16`).
  *   7. `kept`         — routed: `shard` from the budgeted re-plan.
  *
  * The PSI gate is corpus-level, not per-doc: `psi_e9` (the exact
  * fixed-point total over `weightCol` bins, q203's algebra) and
  * `drift_alert` ride every row as constants — the batch-level
  * go/no-go a monitoring consumer reads off any row.
  *
  * Two entry points (r12): [[ingestDecisions]] derives every state
  * relation from a warehouse-docs relation in-plan (the q171/q185/
  * q195 simulation convention — what the self-contained q208 query
  * runs), and [[ingestDecisionsFromState]] consumes an [[IngestState]]
  * of PERSISTED relations — the deployment/streaming form
  * ([[graft.streaming.StreamingIngest]]), where each batch pays only
  * batch-proportional work plus bounded state probes.
  *
  * Scale shape: callers pass a pinned batch ([[pinBatch]], the one
  * materialization of its rows), the ladder runs its rungs one after
  * another on the driver, and every rung touches warehouse state the
  * way its proven incremental form does — segment hashes, LSH bands,
  * count/histogram state are all bounded or banded, never all-pairs;
  * the NB gate scores only survivors (candidate restriction before the
  * heavy kernel, the q196 lesson); the re-plan collects one bounded
  * row per SOURCE.
  */
object IngestCapstone {

  /** The persisted warehouse relations the ladder consumes — each one
    * a member rung's own proven state shape, each mergeable the way
    * that rung merges (unions/distinct/min/count-add), so ingest
    * appends state deltas instead of rewriting:
    *  - `segmentHashes` (`__h`): distinct segment md5s (q171);
    *  - `exactClasses` (`__nh`, `__m`): min doc id per normalized-text
    *    class — min-merge on read, so unaggregated appends are legal;
    *  - `lshBands` (id, band, bhash) + `docs` (id, text): the q185
    *    signature warehouse and its exact-Jaccard verify side;
    *  - `bench13`/`bench3` (`__s`): the decontamination benchmark's
    *    distinct shingle sets (static — written once);
    *  - `nbWordCounts` (src, w, c) / `nbDocCounts` (src, d): the q195
    *    count state (merge group-bys anyway — duplicates add);
    *  - `refBins` (bin, n): the PSI reference histogram (static);
    *  - `existingPlan` (source, weight, shard): the current shard
    *    plan — REPLACED by each re-plan, not merged (movement budgets
    *    are path-dependent by design, q206). */
  final case class IngestState(segmentHashes: DataFrame,
                               exactClasses: DataFrame,
                               lshBands: DataFrame,
                               docs: DataFrame,
                               bench13: DataFrame,
                               bench3: DataFrame,
                               nbWordCounts: DataFrame,
                               nbDocCounts: DataFrame,
                               refBins: DataFrame,
                               existingPlan: DataFrame)

  /** 3-word lines, the q171 segmentation convention (shared with the
    * streaming twin's state-delta writes). */
  private[graft] def lined(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__toks", split(col(textCol), "\\s+"))
      .withColumn("__lined", array_join(
        transform(
          sequence(lit(1), expr("(size(__toks) + 2) div 3")),
          i => concat_ws(" ",
            slice(col("__toks"), (i - lit(1)) * lit(3) + lit(1), lit(3)))),
        "\n"))
      .select(col(idCol), col("__lined"))

  private def normHash(textCol: String) = md5(Dedup.normalized(col(textCol)))

  /** Distinct word-`n`-gram set of `df`, each gram carried as its
    * 16-byte md5 — (idCol, `__s`). Shingle STRINGS never enter an
    * exchange (the q167 segment-dedup rule applied to the
    * decontamination layers, r13: at the x100 probe the 13-gram
    * batch⋈benchmark join shuffled 388 MB of strings for a
    * count-only answer; hashed keys carry the same distinct/join/count
    * semantics at 16 B each). */
  private def shingleSet(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = df
    .select(col(idCol),
      // per-doc distinctness is row-local (array_distinct BEFORE the
      // explode) — the old explode→distinct paid a full corpus-gram
      // exchange for a property every row already had
      explode(array_distinct(
        call_function("graft_shingles", col(textCol), lit(n)))).as("__t"))
    .select(col(idCol), unhex(md5(col("__t"))).as("__s"))

  /** Derive every state relation from a warehouse-docs relation — the
    * in-plan simulation the q208 query runs; a deployment persists
    * these instead (see the [[IngestState]] layout). */
  def ingestState(warehouse: DataFrame, benchmark: DataFrame,
                  idCol: String, labelCol: String, sourceCol: String,
                  textCol: String, weightCol: String,
                  numShards: Int = 4, psiBinWidth: Long = 100L): IngestState =
    IngestState(
      segmentHashes = SegmentDedup.segmentHashState(
        lined(warehouse, idCol, textCol), "__lined", "\n"),
      exactClasses = warehouse
        .select(normHash(textCol).as("__nh"), col(idCol))
        .groupBy(col("__nh")).agg(min(col(idCol)).as("__m")),
      lshBands = Dedup.lshBandWarehouse(warehouse, idCol, textCol),
      docs = warehouse.select(col(idCol), col(textCol)),
      bench13 = shingleSet(benchmark, idCol, textCol, 13)
        .select(col("__s")).distinct(),
      bench3 = shingleSet(benchmark, idCol, textCol, 3)
        .select(col("__s")).distinct(),
      nbWordCounts = NaiveBayes.wordCounts(warehouse, labelCol, textCol),
      nbDocCounts = NaiveBayes.docCounts(warehouse, labelCol),
      refBins = DriftMonitor.binCounts(warehouse, weightCol, psiBinWidth),
      existingPlan = ShardPlanner
        .planShards(warehouse, sourceCol, weightCol, numShards))

  /** Persist an [[IngestState]] as catalog parquet tables under
    * `<prefix>_*` — the DEPLOYMENT layout (r13, VERDICT r12 #1). The
    * hot probe relations are bucketed on their probe keys so every
    * per-batch state contact leaves the warehouse side exchange-free
    * (the [[Warehouse]] shuffle-free-join machinery):
    *  - `bands` bucketed by (band, bhash) — the q185 banded probe's
    *    semi-join AND the candidate self-join cluster on exactly this
    *    tuple, so the band state never shuffles at probe time; this is
    *    the deployment answer to the q208 x100 smoke's one
    *    above-linear term (the in-plan simulation re-SIGNS the whole
    *    warehouse corpus per batch; the persisted table is read as
    *    ~28 B/band-row columnar IO);
    *  - `docs` bucketed by the id column — the exact-Jaccard verify
    *    side probes it per candidate id;
    *  - `exact_classes` bucketed by `__nh`, `seg_hashes` by `__h` —
    *    the min-merge and existence probes cluster on those hashes;
    *  - the vocab-/bin-/source-bounded relations (`word_counts`,
    *    `doc_counts`, `ref_bins`, `plan`) and the static benchmark
    *    shingle sets are plain tables (their consumers aggregate or
    *    broadcast them — nothing to co-locate). */
  def persistState(state: IngestState, prefix: String,
                   buckets: Int = 8): Unit = {
    import org.apache.spark.sql.SaveMode
    def plain(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).format("parquet")
        .saveAsTable(s"${prefix}_$name")
    Warehouse.writeBucketedKeys(state.lshBands, s"${prefix}_bands",
      Seq("band", "bhash"), buckets)
    Warehouse.writeBucketed(state.docs, s"${prefix}_docs",
      state.docs.columns.head, buckets)
    Warehouse.writeBucketed(state.exactClasses, s"${prefix}_exact_classes",
      "__nh", buckets)
    Warehouse.writeBucketed(state.segmentHashes, s"${prefix}_seg_hashes",
      "__h", buckets)
    plain(state.bench13, "bench13")
    plain(state.bench3, "bench3")
    plain(state.nbWordCounts, "word_counts")
    plain(state.nbDocCounts, "doc_counts")
    plain(state.refBins, "ref_bins")
    plain(state.existingPlan, "plan")
  }

  /** Re-open a [[persistState]] layout. */
  def readState(spark: org.apache.spark.sql.SparkSession,
                prefix: String): IngestState =
    IngestState(
      segmentHashes = spark.table(s"${prefix}_seg_hashes"),
      exactClasses = spark.table(s"${prefix}_exact_classes"),
      lshBands = spark.table(s"${prefix}_bands"),
      docs = spark.table(s"${prefix}_docs"),
      bench13 = spark.table(s"${prefix}_bench13"),
      bench3 = spark.table(s"${prefix}_bench3"),
      nbWordCounts = spark.table(s"${prefix}_word_counts"),
      nbDocCounts = spark.table(s"${prefix}_doc_counts"),
      refBins = spark.table(s"${prefix}_ref_bins"),
      existingPlan = spark.table(s"${prefix}_plan"))

  /** One decision row per batch doc:
    * (idCol, sourceCol, n_segments, n_removed, survivor,
    * n_dirty_13grams, containment_e6, predicted, margin_e16, verdict,
    * psi_e9, drift_alert, shard, moved).
    *
    * `warehouse`/`batch`/`benchmark` must carry `idCol` (integral),
    * `labelCol`, `sourceCol`, `textCol`, `weightCol` (integral —
    * chars/bytes/tokens; doubles as the PSI feature). `benchmark` is
    * the decontamination reference (typically a held-out slice of the
    * warehouse). */
  def ingestDecisions(warehouse: DataFrame, batch: DataFrame,
                      benchmark: DataFrame, idCol: String, labelCol: String,
                      sourceCol: String, textCol: String, weightCol: String,
                      numShards: Int = 4, maxMoves: Int = 2,
                      psiBinWidth: Long = 100L,
                      psiAlertE9: Long = 100000000L,
                      lshThreshold: Double = 0.3): DataFrame =
    ingestDecisionsFromState(
      ingestState(warehouse, benchmark, idCol, labelCol, sourceCol,
        textCol, weightCol, numShards, psiBinWidth),
      pinBatch(batch, idCol, labelCol, sourceCol, textCol, weightCol),
      idCol, labelCol, sourceCol, textCol, weightCol,
      numShards, maxMoves, psiBinWidth, psiAlertE9, lshThreshold)

  /** The ladder's five batch columns, materialized once
    * (`localCheckpoint`) — the form [[ingestDecisionsFromState]]
    * expects, since every rung reads the batch. */
  def pinBatch(batch: DataFrame, idCol: String, labelCol: String,
               sourceCol: String, textCol: String,
               weightCol: String): DataFrame =
    batch.select(col(idCol), col(labelCol), col(sourceCol), col(textCol),
      col(weightCol)).localCheckpoint(true)

  /** [[ingestDecisions]] off persisted [[IngestState]] relations —
    * identical decision table (spec-pinned), batch-proportional work:
    * the batch is lined/hashed/signed/shingled/tokenized once each;
    * warehouse contact is the member rungs' own bounded probes.
    *
    * Callers pass a pinned batch ([[pinBatch]]): every rung reads it,
    * and the ladder does not pin it again — a caller that also mines
    * the batch afterwards (the streaming sink's state deltas) reuses
    * the same materialization. An unpinned batch gives the same
    * decisions, recomputed per rung. */
  def ingestDecisionsFromState(state: IngestState, batch0: DataFrame,
                               idCol: String, labelCol: String,
                               sourceCol: String, textCol: String,
                               weightCol: String,
                               numShards: Int = 4, maxMoves: Int = 2,
                               psiBinWidth: Long = 100L,
                               psiAlertE9: Long = 100000000L,
                               lshThreshold: Double = 0.3): DataFrame = {
    graft.plans.GraftExtensions.ensure(batch0.sparkSession)
    // pinned by the caller (see the scaladoc)
    val batch = batch0.select(col(idCol), col(labelCol), col(sourceCol),
      col(textCol), col(weightCol))

    // 1. segment evidence: batch lines dead when in the warehouse
    //    segment state or repeated earlier in the batch (q171's rule)
    val seg = SegmentDedup
      .dedupSegmentsIncrementalFromState(state.segmentHashes,
        lined(batch, idCol, textCol), idCol, "__lined", "\n")
      .select(col(idCol), col("n_segments"), col("n_removed"))

    // 2. exact: min id over the normalized-text class of warehouse ∪
    //    batch — state classes min-merged with the batch's own (state
    //    appends need not be aggregated; least() skips the absent side)
    val batchMin = batch.select(normHash(textCol).as("__nh"), col(idCol))
      .groupBy(col("__nh")).agg(min(col(idCol)).as("__bm"))
    val classMin = state.exactClasses
      .groupBy(col("__nh")).agg(min(col("__m")).as("__wm"))
      .join(batchMin, Seq("__nh"), "full")
      .select(col("__nh"), least(col("__wm"), col("__bm")).as("__m"))
    val exact = batch.select(col(idCol), normHash(textCol).as("__nh"))
      .join(classMin, Seq("__nh"))
      .select(col(idCol),
        when(col("__m") < col(idCol), col("__m")).as("__exs"))

    // 3. near: the q185 banded probe; a doc is flagged by its smallest
    //    similar counterpart (warehouse or batch), whatever that
    //    counterpart's own verdict — redundancy is transitive enough
    //    for a keep/drop table (q188 keeps the component min likewise).
    //    (r13 A-B: a counted-bound variant that kept warehouse band
    //    rows out of the bucket window's exchange measured STRICTLY
    //    worse — x100 probe 8.6 s/292 MB vs the window's 5.8 s/207 MB,
    //    sf0.1 9.0 vs 7.8 — the extra count aggregates and the third
    //    batch-signing consumer cost more than the wh-row exchange
    //    they save; see BASELINE r16. The window form's warehouse
    //    PROBE side is already exchange-free on the persisted
    //    (band, bhash)-bucketed layout — IngestCapstoneSpec asserts it.)
    val pairs = Dedup.minHashLshIncremental(
      state.lshBands, state.docs, batch, idCol, textCol,
      threshold = lshThreshold)
    // pairs come ordered (id_a = least, id_b = greatest), so of the
    // oracle's two-orientation formulation only the (flagged = id_b,
    // counterpart = id_a) branch can produce rows — group the larger
    // side directly instead of unioning a provably-empty orientation
    // (r13 ADVICE: the other branch was dead code doubling the scan)
    val near = pairs
      .join(batch.select(col(idCol).as("id_b")), Seq("id_b"), "left_semi")
      .groupBy(col("id_b").as(idCol)).agg(min(col("id_a")).as("__nrs"))

    // 4. decontamination vs the benchmark (q202's layers): distinct
    //    13-gram hits, distinct-3-gram containment
    val d13 = shingleSet(batch, idCol, textCol, 13)
      .join(state.bench13, Seq("__s"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n13"))
    val c3 = shingleSet(batch, idCol, textCol, 3)
      .join(state.bench3.withColumn("__hit", lit(1L)), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n3"),
        sum(coalesce(col("__hit"), lit(0L))).as("__nh3"))

    // pre-NB evidence + the dedup/decontam rungs of the ladder — one
    // batch-sized row set consumed by the survivor semi-join, the NB
    // join and the final assembly: pin it (the q167 lesson)
    val pre = batch
      .select(col(idCol), col(labelCol), col(sourceCol), col(weightCol))
      .join(seg, Seq(idCol), "left")
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .join(d13, Seq(idCol), "left")
      .join(c3, Seq(idCol), "left")
      .select(col(idCol), col(labelCol), col(sourceCol), col(weightCol),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        col("__exs"), col("__nrs"),
        coalesce(col("__n13"), lit(0L)).as("n_dirty_13grams"),
        // exact integer containment — `div` on non-negatives (the
        // q202/q71 oracle-compat rule; `/` would round-trip a double)
        expr("coalesce(__nh3, 0L) * 1000000L div " +
          "greatest(coalesce(__n3, 1L), 1L)").as("containment_e6"))
      .withColumn("__pre",
        when(col("__exs").isNotNull, lit("exact_dup"))
          .when(col("n_segments") > 0 &&
            col("n_removed") === col("n_segments"), lit("shell_doc"))
          .when(col("__nrs").isNotNull, lit("near_dup"))
          .when(col("n_dirty_13grams") > 0, lit("dirty_13gram"))
          .when(col("containment_e6") >= 800000L, lit("suspect_3gram")))
      .localCheckpoint(true)

    // 5. NB gate over SURVIVORS only — warehouse count state merged
    //    with the survivors' own counts (drops feed priors); the merge
    //    is pinned once inside the scorer
    val survivors = batch.join(
      pre.filter(col("__pre").isNull).select(col(idCol)),
      Seq(idCol), "left_semi")
    val nb = NaiveBayes.classifyIncremental(state.nbWordCounts,
        state.nbDocCounts, survivors, idCol, labelCol, textCol)
      .select(col(idCol), col("predicted"), col("margin_e16"))

    // 6. PSI gate — one bounded driver scalar (q203's exact algebra)
    val psiE9 = DriftMonitor
      .psiFromBinCounts(state.refBins,
        DriftMonitor.binCounts(batch, weightCol, psiBinWidth))
      .agg(coalesce(sum(col("psi_term_e9")), lit(0L)))
      .head().getLong(0)

    val decided = pre.join(nb, Seq(idCol), "left")
      .withColumn("verdict", coalesce(col("__pre"),
        when(col("predicted") =!= col(labelCol), lit("nb_disagrees"))
          .otherwise(lit("kept"))))

    // 7. budgeted shard re-plan over the kept docs only
    val plan = ShardPlanner.replanShards(state.existingPlan,
        decided.filter(col("verdict") === "kept")
          .select(col(sourceCol), col(weightCol)),
        sourceCol, weightCol, numShards, maxMoves)
      .select(col(sourceCol), col("shard").as("__shard"),
        col("moved").as("__moved"))

    decided.join(plan, Seq(sourceCol), "left")
      .select(col(idCol), col(sourceCol),
        col("n_segments"), col("n_removed"),
        when(col("verdict") === "exact_dup", col("__exs"))
          .when(col("verdict") === "near_dup", col("__nrs"))
          .as("survivor"),
        col("n_dirty_13grams"), col("containment_e6"),
        col("predicted"), col("margin_e16"), col("verdict"),
        lit(psiE9).as("psi_e9"),
        lit(psiE9 >= psiAlertE9).as("drift_alert"),
        when(col("verdict") === "kept", col("__shard")).as("shard"),
        when(col("verdict") === "kept", col("__moved")).as("moved"))
  }
}
