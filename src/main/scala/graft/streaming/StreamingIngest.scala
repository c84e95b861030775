package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.{IngestCapstone, ShardPlanner}
import graft.etl.IngestCapstone.IngestState
import graft.operators.{Dedup, NaiveBayes, SegmentDedup}

/** Streaming twin of the q208 ingest capstone — the form a 100-TB
  * pipeline actually deploys: documents arrive as a stream; each
  * micro-batch runs the FULL verdict ladder
  * ([[IngestCapstone.ingestDecisionsFromState]]) against the state
  * accumulated from everything previously ACCEPTED, writes its
  * decision table, then appends ONLY its kept docs' state deltas —
  * each delta in the member rung's own mergeable shape (distinct
  * segment hashes, min-merge exact classes, band rows, doc rows,
  * additive NB counts) — and REPLACES the shard plan with the
  * budgeted re-plan's output (plan state is path-dependent by
  * design: the movement budget is the q206 product feature).
  *
  * Warehouse layout under `warehouseDir` (all parquet):
  *  - static, written once by [[bootstrap]]: `config/` (structural
  *    tunables), `bench13/`, `bench3/` (decontamination shingle
  *    sets), `ref_bins/` (the bootstrap PSI reference snapshot);
  *  - accumulating, one `batch=<id>` partition per micro-batch
  *    (bootstrap state rides `batch=-1`): `seg_hashes/`,
  *    `exact_classes/`, `bands/`, `docs/`, `word_counts/`,
  *    `doc_counts/`, `bin_deltas/`, `plan/`, `decisions/`.
  *
  * PSI reference policy (r13, VERDICT r12 #4 — `refreshEvery` in the
  * persisted config): with `refreshEvery = 0` (default) every batch
  * gates against the FIXED bootstrap reference — the StreamingDrift
  * posture, where the `decisions/` history IS the drift trajectory
  * away from a pinned baseline. With `refreshEvery = R > 0` the
  * reference is the ACCEPTED corpus as of the last R-batch boundary:
  * batch B gates against `ref_bins` merged with the kept docs'
  * `bin_deltas` of every batch < B − (B mod R) (counts add — the
  * q205 mergeable-bin contract makes the refresh one bounded
  * bin-count rollup, never a document re-scan). R = 1 reproduces the
  * self-contained q208 posture exactly: every batch gates against
  * the full current accepted corpus (StreamingIngestSpec pins it
  * chunk-for-chunk); larger R trades alert latency for a stabler
  * baseline. A deployment refreshes when it wants "drift vs what we
  * now ship" rather than "drift vs launch" — after a deliberate
  * distribution change (new source onboarded, re-balance) pick small
  * R so the alert re-anchors; during an incident investigation pin
  * R = 0 so the trajectory stays comparable. Replay-safe: the
  * boundary is a pure function of B and the `bin_deltas` read takes
  * `batch < boundary ≤ B`, so a replayed batch recomputes the same
  * reference (its own partial delta is invisible to it).
  *
  * Replay-idempotent (the r11 StreamingClassify convention): every
  * write targets the batch's OWN partition dir with mode overwrite,
  * and every state read takes `batch < batchId` — a foreachBatch
  * replay after restart replaces its earlier (possibly partial)
  * output instead of double-counting, and is blind to its own
  * partial state rows. The plan read takes the LATEST partition
  * before the batch.
  *
  * Batch equivalence (StreamingIngestSpec's chunked replay, pinned to
  * the oracle-green q208 operator): each chunk's verdict/evidence
  * columns equal `ingestDecisions(initial ∪ kept-so-far, chunk,
  * benchmark)`; its `psi_e9` equals the member gate against the fixed
  * reference; its routes equal `replanShards(previous plan, its kept
  * docs)`. The psi/route columns deviate from the self-contained q208
  * query DELIBERATELY: q208 re-derives ref bins and a fresh LPT from
  * its (static) warehouse, a deployment gates against a pinned (or
  * R-boundary-refreshed — see the policy above; `refreshEvery = 1`
  * closes the psi leg of this deviation and the spec pins THAT
  * against the accepted-corpus gate chunk-for-chunk) reference and
  * carries a movement-budgeted plan forward.
  *
  * NB model note: scoring merges the SURVIVORS' counts transiently
  * (the q195 semantics — a doc is scored by a model that has seen its
  * batch's survivors); only KEPT docs' counts persist, because the
  * warehouse is the accepted corpus (an nb_disagrees doc routes to
  * review, not into tomorrow's priors).
  */
object StreamingIngest {

  /** Write the static references and the initial accepted-corpus
    * state (as `batch=-1` partitions) — REQUIRED before the stream
    * starts. `warehouse` may be empty-but-schema'd for a cold start.
    *
    * The STRUCTURAL parameters — `numShards` (how many slots the plan
    * routes into) and `psiBinWidth` (the binning every PSI comparison
    * against `ref_bins` must share) — are persisted to `config/` and
    * read back by [[ingestSink]], so a warehouse bootstrapped with
    * non-default values can never be probed with mismatched binning or
    * re-planned into the wrong slot count (r13 ADVICE: the sink used
    * to hard-wire its own defaults). */
  def bootstrap(warehouseDir: String, warehouse: DataFrame,
                benchmark: DataFrame, idCol: String, labelCol: String,
                sourceCol: String, textCol: String, weightCol: String,
                numShards: Int = 4, psiBinWidth: Long = 100L,
                refreshEvery: Int = 0): Unit = {
    val spark = warehouse.sparkSession
    val st = IngestCapstone.ingestState(warehouse, benchmark, idCol,
      labelCol, sourceCol, textCol, weightCol, numShards, psiBinWidth)
    def boot(df: DataFrame, dir: String): Unit =
      df.write.mode("overwrite").parquet(s"$warehouseDir/$dir/batch=-1")
    import spark.implicits._
    Seq((numShards, psiBinWidth, refreshEvery))
      .toDF("num_shards", "psi_bin_width", "refresh_every")
      .coalesce(1).write.mode("overwrite").parquet(s"$warehouseDir/config")
    st.bench13.write.mode("overwrite").parquet(s"$warehouseDir/bench13")
    st.bench3.write.mode("overwrite").parquet(s"$warehouseDir/bench3")
    st.refBins.write.mode("overwrite").parquet(s"$warehouseDir/ref_bins")
    boot(st.segmentHashes, "seg_hashes")
    boot(st.exactClasses, "exact_classes")
    boot(st.lshBands, "bands")
    boot(st.docs, "docs")
    boot(st.nbWordCounts, "word_counts")
    boot(st.nbDocCounts, "doc_counts")
    boot(st.existingPlan.select(col(sourceCol), col("weight"), col("shard")),
      "plan")
  }

  /** foreachBatch sink against the warehouse under `warehouseDir`.
    *
    * `numShards`/`psiBinWidth` are NOT parameters: they are read from
    * the warehouse's persisted `config/` (written by [[bootstrap]]),
    * so per-batch PSI is always computed with the binning `ref_bins`
    * was built with and re-plans always target the bootstrapped slot
    * count. The remaining knobs are batch-time POLICY (alert level,
    * movement budget, verify threshold) and stay caller-tunable. */
  def ingestSink(warehouseDir: String, idCol: String, labelCol: String,
                 sourceCol: String, textCol: String, weightCol: String,
                 maxMoves: Int = 2, psiAlertE9: Long = 100000000L,
                 lshThreshold: Double = 0.3)
                (batchDf: DataFrame, batchId: Long): Unit = {
    val spark = batchDf.sparkSession
    require(WarehouseFs.exists(spark, s"$warehouseDir/config"),
      s"StreamingIngest needs the bootstrapped warehouse at $warehouseDir" +
        " — call bootstrap(...) before starting the stream")
    val cfg = spark.read.parquet(s"$warehouseDir/config").head()
    val numShards = cfg.getAs[Int]("num_shards")
    val psiBinWidth = cfg.getAs[Long]("psi_bin_width")
    val refreshEvery = cfg.getAs[Int]("refresh_every")
    // rolling PSI reference (scaladoc policy): bootstrap bins merged
    // with kept-doc bin deltas up to the last refresh boundary
    val boundary =
      if (refreshEvery <= 0) 0L else batchId - (batchId % refreshEvery)
    val refBins0 = spark.read.parquet(s"$warehouseDir/ref_bins")
      .select(col("bin"), col("n"))
    val refBins =
      if (boundary <= 0 ||
          !WarehouseFs.exists(spark, s"$warehouseDir/bin_deltas")) refBins0
      else graft.operators.DriftMonitor.mergeBinCounts(refBins0,
        spark.read.parquet(s"$warehouseDir/bin_deltas")
          .where(col("batch") < boundary).select(col("bin"), col("n")))
    def readPrefix(dir: String, cols: Seq[String]): DataFrame =
      spark.read.parquet(s"$warehouseDir/$dir")
        .where(col("batch") < batchId)
        .select(cols.map(col): _*)
    // the plan is replaced, not merged: list the partition directories
    // to find the latest one before this batch, then read ONLY it —
    // plan history grows one partition per batch, so scanning the full
    // history's rows every micro-batch is O(batches) for a 1-partition
    // answer (r13 ADVICE; bootstrap always writes batch=-1)
    val lastPlan = WarehouseFs.listPartitionIds(
        spark, s"$warehouseDir/plan", "batch")
      .filter(_ < batchId)
      .reduceOption(_ max _).getOrElse(-1L)
    val state = IngestState(
      segmentHashes = readPrefix("seg_hashes", Seq("__h")),
      exactClasses = readPrefix("exact_classes", Seq("__nh", "__m")),
      // lshBandWarehouse emits a FIXED ("id", band, bhash) schema
      lshBands = readPrefix("bands", Seq("id", "band", "bhash")),
      docs = readPrefix("docs", Seq(idCol, textCol)),
      bench13 = spark.read.parquet(s"$warehouseDir/bench13"),
      bench3 = spark.read.parquet(s"$warehouseDir/bench3"),
      nbWordCounts = readPrefix("word_counts", Seq("src", "w", "c")),
      nbDocCounts = readPrefix("doc_counts", Seq("src", "d")),
      refBins = refBins,
      existingPlan = spark.read
        .parquet(s"$warehouseDir/plan/batch=$lastPlan")
        .select(col(sourceCol), col("weight"), col("shard")))
    // decided AND mined for state deltas — the batch's one pin
    val batch = IngestCapstone.pinBatch(batchDf, idCol, labelCol,
      sourceCol, textCol, weightCol)
    val decisions = IngestCapstone.ingestDecisionsFromState(state, batch,
        idCol, labelCol, sourceCol, textCol, weightCol,
        numShards, maxMoves, psiBinWidth, psiAlertE9, lshThreshold)
      .localCheckpoint(true)
    decisions.write.mode("overwrite")
      .parquet(s"$warehouseDir/decisions/batch=$batchId")
    // only the ACCEPTED docs enter the warehouse state
    val kept = batch.join(
        decisions.filter(col("verdict") === "kept").select(col(idCol)),
        Seq(idCol), "left_semi")
      .localCheckpoint(true)
    def delta(df: DataFrame, dir: String): Unit =
      df.write.mode("overwrite")
        .parquet(s"$warehouseDir/$dir/batch=$batchId")
    delta(SegmentDedup.segmentHashState(
      IngestCapstone.lined(kept, idCol, textCol), "__lined", "\n"),
      "seg_hashes")
    delta(kept
      .select(md5(Dedup.normalized(col(textCol))).as("__nh"), col(idCol))
      .groupBy(col("__nh")).agg(min(col(idCol)).as("__m")),
      "exact_classes")
    delta(Dedup.lshBandWarehouse(kept, idCol, textCol), "bands")
    delta(kept.select(col(idCol), col(textCol)), "docs")
    delta(NaiveBayes.wordCounts(kept, labelCol, textCol), "word_counts")
    delta(NaiveBayes.docCounts(kept, labelCol), "doc_counts")
    // written under EVERY policy (cheap, mergeable by addition) so a
    // warehouse can switch to a rolling reference without backfill
    delta(graft.operators.DriftMonitor.binCounts(kept, weightCol,
      psiBinWidth), "bin_deltas")
    // the new plan: the same deterministic re-plan the decisions used
    // (recomputed — the greedy is driver-bounded arithmetic over one
    // row per source), persisted WHOLE so the next batch starts from it
    delta(ShardPlanner.replanShards(state.existingPlan,
        kept.select(col(sourceCol), col(weightCol)),
        sourceCol, weightCol, numShards, maxMoves)
      .select(col(sourceCol), col("weight"), col("shard")),
      "plan")
  }

  /** Wire a document stream into the sink, forwarding the batch-time
    * policy knobs (structural numShards/psiBinWidth ride the persisted
    * `config/` — see [[ingestSink]]). Read decisions from
    * `<warehouseDir>/decisions`. */
  def run(docs: DataFrame, idCol: String, labelCol: String,
          sourceCol: String, textCol: String, weightCol: String,
          warehouseDir: String, checkpointDir: String,
          maxMoves: Int = 2, psiAlertE9: Long = 100000000L,
          lshThreshold: Double = 0.3): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(
        ingestSink(warehouseDir, idCol, labelCol, sourceCol, textCol,
          weightCol, maxMoves, psiAlertE9, lshThreshold) _)
      .start()
}
