package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.etl.{IngestCapstone, ShardPlanner}
import graft.operators.DriftMonitor

/** Chunked replay of the sf0.001 batch docs through the accumulating
  * ingest warehouse: each chunk's streamed verdict/evidence columns
  * must equal the oracle-green q208 operator run against
  * (initial warehouse ∪ kept-so-far); its psi_e9 must equal the
  * member gate against the FIXED bootstrap reference; its routes must
  * equal the movement-budgeted re-plan chain. Plus the r11
  * replay-idempotence contract: re-running the last micro-batch
  * leaves decisions AND additive state untouched, and the edge inputs
  * (an empty batch, a batch of exact re-sends) leave no state behind. */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("doc_id", "lang", "source", "text", "n_chars")

  private def evidence(df: DataFrame): Seq[(Long, String)] = df
    .select(col("doc_id"), col("source"), col("n_segments"),
      col("n_removed"), col("survivor"), col("n_dirty_13grams"),
      col("containment_e6"), col("predicted"), col("margin_e16"),
      col("verdict"))
    .collect().toSeq
    .map(r => r.getLong(0) -> r.mkString("|")).sortBy(_._1)

  test("streaming ingest warehouse replay equals the per-chunk batch " +
      "capstone over initial ∪ kept-so-far") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 300)
      .select(cols.map(col): _*)
      .localCheckpoint(true)
    val isBatch = col("doc_id") % 7 === 0
    val warehouse0 = docs.filter(!isBatch)
    val benchmark = docs.filter(!isBatch && col("doc_id") % 10 === 0)
    val batchRows = docs.filter(isBatch)
      .as[(Long, String, String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    val whDir = java.nio.file.Files
      .createTempDirectory("graft-stream-ingest").toString
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-stream-ingest-ck").toString
    StreamingIngest.bootstrap(whDir, warehouse0, benchmark,
      "doc_id", "lang", "source", "text", "n_chars")

    val input = MemoryStream[(Long, String, String, String, Long)]
    val q = StreamingIngest.run(input.toDF().toDF(cols: _*),
      "doc_id", "lang", "source", "text", "n_chars", whDir, ckDir)
    val chunks = batchRows.grouped(
      math.max(1, math.ceil(batchRows.size / 3.0).toInt)).toSeq
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    q.stop()

    def readDecisions() = spark.read.parquet(s"$whDir/decisions")
      .localCheckpoint(true)
    val streamedAll = readDecisions()
    // exactly-once: one decision per streamed doc
    assert(evidence(streamedAll).map(_._1) === batchRows.map(_._1))

    // the independent chain: batch capstone per chunk over the
    // accumulated corpus + the replan chain + the fixed-ref psi
    val refBins = DriftMonitor
      .binCounts(warehouse0, "n_chars", 100L).localCheckpoint(true)
    var wh = warehouse0
    var plan = ShardPlanner.planShards(warehouse0, "source", "n_chars", 4)
      .select(col("source"), col("weight"), col("shard"))
      .localCheckpoint(true)
    chunks.zipWithIndex.foreach { case (c, i) =>
      val chunk = c.toDF(cols: _*).localCheckpoint(true)
      val expected = IngestCapstone.ingestDecisions(
          wh, chunk, benchmark,
          "doc_id", "lang", "source", "text", "n_chars")
        .localCheckpoint(true)
      val streamed = streamedAll.where(col("batch") === i)
      assert(evidence(streamed) === evidence(expected),
        s"chunk $i verdict/evidence diverged")
      // psi: the member gate vs the FIXED bootstrap reference
      val psi = DriftMonitor.psiFromBinCounts(refBins,
          DriftMonitor.binCounts(chunk, "n_chars", 100L))
        .agg(coalesce(sum(col("psi_term_e9")), lit(0L))).head().getLong(0)
      assert(streamed.select(col("psi_e9")).distinct()
        .as[Long].collect().toSeq === Seq(psi), s"chunk $i psi diverged")
      // routes: the movement-budgeted replan chain
      val keptSrc = expected.filter(col("verdict") === "kept")
        .select(col("doc_id"), col("source"))
      val kept = chunk.join(keptSrc.select(col("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint(true)
      val replan = ShardPlanner.replanShards(plan,
          kept.select(col("source"), col("n_chars")),
          "source", "n_chars", 4, 2)
        .localCheckpoint(true)
      val expRoutes = keptSrc
        .join(replan.select(col("source"), col("shard"), col("moved")),
          Seq("source"))
        .select(col("doc_id"), col("shard"), col("moved"))
        .as[(Long, Int, Boolean)].collect().toSeq.sortBy(_._1)
      val gotRoutes = streamed.filter(col("verdict") === "kept")
        .select(col("doc_id"), col("shard"), col("moved"))
        .as[(Long, Int, Boolean)].collect().toSeq.sortBy(_._1)
      assert(gotRoutes === expRoutes, s"chunk $i routes diverged")
      wh = wh.unionByName(kept).localCheckpoint(true)
      plan = replan.select(col("source"), col("weight"), col("shard"))
        .localCheckpoint(true)
    }

    // replay idempotence (r11 convention): re-running the LAST
    // micro-batch must leave decisions and additive state unchanged
    def wcTotal() = spark.read.parquet(s"$whDir/word_counts")
      .groupBy().agg(sum(col("c"))).as[Long].head()
    val before = evidence(streamedAll)
    val wcBefore = wcTotal()
    StreamingIngest.ingestSink(whDir, "doc_id", "lang", "source",
      "text", "n_chars")(chunks.last.toDF(cols: _*), chunks.size - 1L)
    assert(evidence(readDecisions()) === before)
    assert(wcTotal() === wcBefore)
  }

  test("rolling PSI reference (refreshEvery=1): each batch gates " +
      "against the accepted corpus so far — the q208 posture, closed " +
      "chunk-for-chunk — and a replayed batch recomputes the same " +
      "reference (r13, VERDICT #4)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 300)
      .select(cols.map(col): _*)
      .localCheckpoint(true)
    val isBatch = col("doc_id") % 7 === 0
    val warehouse0 = docs.filter(!isBatch)
    val benchmark = docs.filter(!isBatch && col("doc_id") % 10 === 0)
    val whDir = java.nio.file.Files
      .createTempDirectory("graft-stream-ingest-roll").toString
    StreamingIngest.bootstrap(whDir, warehouse0, benchmark,
      "doc_id", "lang", "source", "text", "n_chars", refreshEvery = 1)
    val batchRows = docs.filter(isBatch)
      .as[(Long, String, String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    val chunks = batchRows.grouped(
      math.max(1, math.ceil(batchRows.size / 3.0).toInt)).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      StreamingIngest.ingestSink(whDir, "doc_id", "lang", "source",
        "text", "n_chars")(c.toDF(cols: _*), i.toLong)
    }
    val decisions = spark.read.parquet(s"$whDir/decisions")
      .localCheckpoint(true)
    // independent chain: the member gate against binCounts(initial ∪
    // kept-so-far) — i.e. what the self-contained q208 posture computes
    var wh = warehouse0
    chunks.zipWithIndex.foreach { case (c, i) =>
      val chunk = c.toDF(cols: _*).localCheckpoint(true)
      val psiExp = DriftMonitor.psiFromBinCounts(
          DriftMonitor.binCounts(wh, "n_chars", 100L),
          DriftMonitor.binCounts(chunk, "n_chars", 100L))
        .agg(coalesce(sum(col("psi_term_e9")), lit(0L))).head().getLong(0)
      val got = decisions.where(col("batch") === i)
        .select(col("psi_e9")).distinct().as[Long].collect().toSeq
      assert(got === Seq(psiExp), s"chunk $i rolling psi diverged")
      val kept = chunk.join(
        decisions.where(col("batch") === i)
          .filter(col("verdict") === "kept").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      wh = wh.unionByName(kept).localCheckpoint(true)
    }
    // a replay of the LAST batch must see the same boundary (< its own
    // id), hence the same reference and identical decisions
    val before = decisions.collect().map(_.mkString("|")).toSeq.sorted
    StreamingIngest.ingestSink(whDir, "doc_id", "lang", "source",
      "text", "n_chars")(chunks.last.toDF(cols: _*), chunks.size - 1L)
    val after = spark.read.parquet(s"$whDir/decisions")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(after === before)
    // the rolling reference really moved: a later batch's psi differs
    // from the fixed-bootstrap gate for that batch (guards against a
    // vacuous pin if the kept deltas were empty)
    val fixedPsi = DriftMonitor.psiFromBinCounts(
        DriftMonitor.binCounts(warehouse0, "n_chars", 100L),
        DriftMonitor.binCounts(chunks.last.toDF(cols: _*), "n_chars", 100L))
      .agg(coalesce(sum(col("psi_term_e9")), lit(0L))).head().getLong(0)
    val lastGot = decisions.where(col("batch") === (chunks.size - 1))
      .select(col("psi_e9")).distinct().as[Long].head()
    assert(lastGot != fixedPsi,
      "rolling reference should differ from the fixed gate by chunk 3")
  }

  test("cold start: an EMPTY bootstrapped warehouse accepts the first " +
      "batch's survivors and dedups within it") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 60)
      .select(cols.map(col): _*)
    val empty = docs.limit(0)
    // benchmark must be non-empty for the gram layers to mean anything;
    // use one held-out doc (its shingles are the only dirt detectable)
    val benchmark = docs.filter(col("doc_id") === 1)
    val whDir = java.nio.file.Files
      .createTempDirectory("graft-stream-ingest-cold").toString
    StreamingIngest.bootstrap(whDir, empty, benchmark,
      "doc_id", "lang", "source", "text", "n_chars")
    val batch = docs.filter(col("doc_id") =!= 1)
    StreamingIngest.ingestSink(whDir, "doc_id", "lang", "source",
      "text", "n_chars")(batch, 0L)
    val got = spark.read.parquet(s"$whDir/decisions")
    assert(got.count() == batch.count())
    // with no prior corpus the model trains on the batch's own
    // survivors; every verdict is still decided and kept docs route
    val verdicts = got.select(col("verdict")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(verdicts.contains("kept"), verdicts)
    assert(got.filter(col("verdict") === "kept")
      .filter(col("shard").isNull).count() == 0)
    // the accepted corpus seeded: batch 1 sees batch 0's kept state
    val firstKept = got.filter(col("verdict") === "kept").count()
    assert(spark.read.parquet(s"$whDir/docs")
      .where(col("batch") === 0).count() == firstKept)
    // an exact copy of a kept doc arriving in batch 1 must now drop
    val keptId = got.filter(col("verdict") === "kept")
      .agg(min(col("doc_id"))).head().getLong(0)
    val copy = docs.filter(col("doc_id") === keptId)
      .withColumn("doc_id", lit(99999L))
    StreamingIngest.ingestSink(whDir, "doc_id", "lang", "source",
      "text", "n_chars")(copy, 1L)
    val d1 = spark.read.parquet(s"$whDir/decisions")
      .where(col("batch") === 1).head()
    assert(d1.getAs[String]("verdict") == "exact_dup" &&
      d1.getAs[Long]("survivor") == keptId)
  }

  /** The state directories a micro-batch appends its deltas to. */
  private val deltaDirs = Seq("seg_hashes", "exact_classes", "bands", "docs",
    "word_counts", "doc_counts", "bin_deltas")

  /** A warehouse bootstrapped from the non-batch sf0.001 docs < 300
    * (the replay tests' split), plus that split's batch docs. */
  private def bootstrapped(tag: String): (String, DataFrame, DataFrame, DataFrame) = {
    val docs = graft.Tables.documents(spark,
        s"${sys.props("user.home")}/testdata/sf0.001")
      .filter(col("doc_id") < 300)
      .select(cols.map(col): _*)
      .localCheckpoint(true)
    val isBatch = col("doc_id") % 7 === 0
    val warehouse0 = docs.filter(!isBatch)
    val benchmark = docs.filter(!isBatch && col("doc_id") % 10 === 0)
    val whDir = java.nio.file.Files
      .createTempDirectory(s"graft-stream-ingest-$tag").toString
    StreamingIngest.bootstrap(whDir, warehouse0, benchmark,
      "doc_id", "lang", "source", "text", "n_chars")
    (whDir, warehouse0, benchmark, docs.filter(isBatch))
  }

  private def sink(whDir: String)(batch: DataFrame, id: Long): Unit =
    StreamingIngest.ingestSink(whDir, "doc_id", "lang", "source",
      "text", "n_chars")(batch, id)

  private def deltaRows(whDir: String, dir: String, id: Long): Long =
    spark.read.parquet(s"$whDir/$dir").where(col("batch") === id).count()

  private def planRows(whDir: String, id: Long): Seq[String] =
    spark.read.parquet(s"$whDir/plan/batch=$id")
      .select(col("source"), col("weight"), col("shard"))
      .collect().map(_.mkString("|")).toSeq.sorted

  test("edge input: an empty micro-batch decides nothing, appends no " +
      "state, carries the plan forward, and the next batch still decides") {
    val (whDir, warehouse0, benchmark, batchDocs) = bootstrapped("empty")
    sink(whDir)(batchDocs.limit(0), 0L)
    assert(spark.read.parquet(s"$whDir/decisions")
      .where(col("batch") === 0).count() == 0)
    deltaDirs.foreach(d => assert(deltaRows(whDir, d, 0L) == 0, d))
    assert(planRows(whDir, 0L) === planRows(whDir, -1L))

    // batch 1 sees exactly the bootstrap corpus: its verdicts equal
    // the batch capstone over the initial warehouse
    val chunk = batchDocs.localCheckpoint(true)
    sink(whDir)(chunk, 1L)
    val got = spark.read.parquet(s"$whDir/decisions")
      .where(col("batch") === 1)
    val expected = IngestCapstone.ingestDecisions(warehouse0, chunk,
      benchmark, "doc_id", "lang", "source", "text", "n_chars")
    assert(got.count() == chunk.count())
    assert(evidence(got) === evidence(expected))
  }

  test("edge input: a batch of exact re-sends of accepted docs is all " +
      "exact_dup and adds no rows to the warehouse state") {
    val (whDir, _, _, batchDocs) = bootstrapped("resend")
    sink(whDir)(batchDocs, 0L)
    val kept = spark.read.parquet(s"$whDir/decisions")
      .where(col("batch") === 0 && col("verdict") === "kept")
      .select(col("doc_id"))
    assert(kept.count() > 0)
    // re-sends carry fresh (larger) ids, as a re-submitted doc does
    val resends = batchDocs.join(kept, Seq("doc_id"), "left_semi")
      .withColumn("doc_id", col("doc_id") + 100000L)
      .select(cols.map(col): _*)
      .localCheckpoint(true)
    sink(whDir)(resends, 1L)
    val got = spark.read.parquet(s"$whDir/decisions")
      .where(col("batch") === 1)
      .select(col("doc_id"), col("verdict"), col("survivor"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(got.map(_._1) ===
      resends.select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted)
    // each re-send points at the accepted original it copies
    got.foreach { case (id, verdict, survivor) =>
      assert(verdict == "exact_dup" && survivor == id - 100000L,
        s"doc $id: $verdict / $survivor")
    }
    deltaDirs.foreach(d => assert(deltaRows(whDir, d, 1L) == 0, d))
    assert(planRows(whDir, 1L) === planRows(whDir, 0L))
  }
}
